"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's extension points are function-valued fold/apply
parameters (WindowAggregate.scala:22-37); Spark's general escape hatch
for stateful logic the built-in operators can't express is
``applyInPandasWithState``: per-key state + Arrow-batched pandas,
with watermark-driven timeouts for eviction.

``sessionize`` implements inactivity-gap sessionization — the same
semantics as ``F.session_window`` — as a worked example of the
pattern: per-key state is the open session (start, last_ts, count);
an event extends it or closes it and opens a new one; the event-time
timeout closes sessions the watermark has passed.  Keeping a built-in
twin means the custom path stays verifiable (tests assert
custom == session_window == batch gaps-and-islands).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_repartition_watermark_example_spark.streaming.eventtime import (
    ensure_event_time,
)
from flink_repartition_watermark_example_spark.streaming.replica import (
    drop_close_sentinels,
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("count", T.LongType()),
    ]
)

_US = 1_000_000


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
) -> Iterator[pd.DataFrame]:
    user_id = key[0]
    closed: list[tuple[int, int]] = []  # (start_us, count)

    if state.hasTimedOut:
        if state.exists:
            start_us, _last, count = state.get
            closed.append((start_us, count))
            state.remove()
    else:
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
        ts_us.sort()
        if state.exists:
            start_us, last_us, count = state.get
        else:
            start_us = last_us = count = None  # type: ignore[assignment]
        for t in ts_us:
            if start_us is None:
                start_us, last_us, count = t, t, 1
            elif t - last_us > gap_seconds * _US:
                closed.append((start_us, count))
                start_us, last_us, count = t, t, 1
            else:
                last_us, count = t, count + 1
        if start_us is not None:
            state.update((start_us, last_us, count))
            # Close the open session once the event-time watermark
            # passes its gap horizon — this is the state-eviction
            # contract that keeps unbounded runs bounded.
            state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)

    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(closed),
            "session_start": [pd.Timestamp(s, unit="us") for s, _ in closed],
            "n_events": [c for _, c in closed],
        }
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Inactivity-gap sessions per user over a streaming DataFrame.
    Emits each session exactly once, when the watermark passes its gap
    horizon (append semantics, like the reference's window firing).

    Close-sentinel rows (streaming/replica.py) advance the watermark,
    which fires the last sessions' timeouts at end of input, and are
    dropped after it, so they never open a session of their own."""
    gap_seconds = {"30 minutes": 1800}.get(gap)
    if gap_seconds is None:
        parts = gap.split()
        unit = {"seconds": 1, "minutes": 60, "hours": 3600}[parts[1]]
        gap_seconds = int(parts[0]) * unit

    def fn(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, gap_seconds)

    marked = ensure_event_time(events).withWatermark("ts", watermark_delay)
    return (
        drop_close_sentinels(marked)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
