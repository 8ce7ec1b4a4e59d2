"""Streaming replica of the reference experiment (the repo's raison
d'être: reference README.md:17-58).

The reference runs two source partitions whose event times are skewed
by one day (Main.scala:13-16), assigns per-record timestamps and
periodic watermarks (PageviewTimestampAssigner.scala:6-14), hash-
partitions by url (Main.scala:24) and counts per url per 1-hour
tumbling event-time window (Main.scala:25-26).  The semantic under
test: a window fires only when the **min** watermark across inputs has
passed its end (README.md:23-24, README.md:44-45), so day-2 windows
buffer until the slow partition catches up and day-3 windows flush at
end of input (README.md:54-58).

Spark mapping (SURVEY §1.4): Structured Streaming's watermark is
per-*stream*, not per-partition — a single source with 1-day internal
skew would treat the slow partition's rows as late and drop them.
Flink's min-of-inputs semantics are recovered exactly by modeling each
skewed partition as its **own source with its own withWatermark**, then
``union``-ing: with ``spark.sql.streaming.multipleWatermarkPolicy=min``
(the default, pinned in session.py) the query watermark advances as the
min of the per-source watermarks.

Scale: the aggregation state is O(#keys × #open-windows) per state
store partition — identical to the reference's FoldingStateDescriptor
(README.md:66) — and append mode evicts state as soon as the watermark
passes a window, so long-running jobs don't accumulate state.
"""

from __future__ import annotations

import calendar
import tempfile
from collections.abc import Mapping
from dataclasses import dataclass, field
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark.operators.windowed import (
    windowed_agg,
    windowed_count,
)
from flink_repartition_watermark_example_spark.streaming.eventtime import (
    ensure_event_time,
)

# Flink sources emit Watermark(Long.MaxValue) when they close — that is
# what flushes the reference's day-3 windows at end of input
# (README.md:58).  Spark has no end-of-input watermark, so a bounded
# replay encodes "source closed" as two far-future sentinel files per
# source (:func:`write_close_sentinel`): they advance that source's
# watermark past every real window, then :func:`drop_close_sentinels`
# removes them before aggregation.  The drop predicate MUST reference
# the event-time column: Catalyst pushes any other predicate below the
# EventTimeWatermark node (PushPredicateThroughNonJoin spares only
# predicates on the watermark attribute), which would hide the sentinel
# from the watermark collector entirely.  This module is the only one
# that knows the sentinel times and the cutoff.
#
# FLUSH_KEY is the url that sentinel rows staged outside Spark carry
# (perfbench/datagen.py); the drop keys on the time, never on it.
FLUSH_KEY = "__source_closed__"
FLUSH_TS = "2100-01-01 00:00:00"
_CLOSE_TIMES = (FLUSH_TS, "2100-01-02 00:00:00")
_FLUSH_CUTOFF = "2099-01-01 00:00:00"


def drop_close_sentinels(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Drop the close-sentinel rows of ``df``.  Apply it above the
    watermark (the predicate is on the event-time column, so Catalyst
    keeps it there): the sentinels must reach the watermark first.
    The cutoff is cast to the column's own type, so the comparison
    needs no implicit coercion."""
    cutoff = F.lit(_FLUSH_CUTOFF).cast(df.schema[ts_col].dataType)
    return df.where(F.col(ts_col) < cutoff)


def _watermarked_union(
    sources: list[DataFrame], ts_col: str, watermark_delay: str
) -> DataFrame:
    """Each source with its own watermark, unioned (min-of-sources
    policy), close sentinels dropped above the watermarks."""
    marked = [
        ensure_event_time(df, ts_col).withWatermark(ts_col, watermark_delay)
        for df in sources
    ]
    return drop_close_sentinels(reduce(DataFrame.unionByName, marked), ts_col)


def windowed_count_stream(
    sources: list[DataFrame],
    ts_col: str = "ts",
    key_col: str = "url",
    window_size: str = "1 hour",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Build the reference pipeline over N streaming sources.

    Each source gets its own watermark (delay 0 is faithful: the
    reference emits ``lastTimestamp - 1`` over monotonic inputs,
    PageviewTimestampAssigner.scala:13), then union → keyed tumbling
    window count.  Works on batch DataFrames too (withWatermark is a
    no-op in batch), which is how tests cross-check stream vs batch.

    Close sentinels advance the watermark but are excluded from
    aggregation (see note above).
    """
    return windowed_count(
        _watermarked_union(sources, ts_col, watermark_delay),
        ts_col,
        [key_col],
        window_size,
    )


def salted_windowed_count_stream(
    sources: list[DataFrame],
    ts_col: str = "ts",
    key_col: str = "url",
    window_size: str = "1 hour",
    watermark_delay: str = "0 seconds",
    salt_buckets: int = 8,
    salt_from: str = "event_id",
) -> DataFrame:
    """Skew-safe twin of :func:`windowed_count_stream`: the same
    pipeline with the aggregation split into two chained stateful
    stages (Spark 3.4+ multiple-stateful-operator support).

    A hot key (one url carrying most of the traffic) makes the single
    ``groupBy(window, key)`` a one-task straggler AND concentrates its
    state in one store.  Stage 1 groups by (window, key, salt) —
    ``salt = crc32(event_id) % buckets`` is deterministic, so replays
    land in the same bucket — spreading the hot key's rows and state
    across ``salt_buckets`` tasks; stage 2 re-windows the partials
    (``window(window, size)`` — an identity re-window, no extra
    latency) and sums the per-salt counts, touching only
    ``buckets × keys × open-windows`` rows.  This is `scale.salted_agg`
    under watermarks; both stages evict state in append mode as
    windows close.

    Emission contract unchanged: each (window, key) row appears exactly
    once, when the min-of-sources watermark passes the window end —
    tests assert stream == batch on a hot-key distribution.
    """
    salted = _watermarked_union(sources, ts_col, watermark_delay).withColumn(
        "__salt",
        F.pmod(F.crc32(F.col(salt_from).cast("string")), F.lit(salt_buckets)),
    )
    partial = salted.groupBy(
        F.window(F.col(ts_col), window_size), F.col(key_col), F.col("__salt")
    ).agg(F.count(F.lit(1)).alias("__partial"))
    return windowed_agg(
        partial,
        "window",
        [key_col],
        [F.sum("__partial").alias("aggregate")],
        window_size,
    )


@dataclass
class ReplayResult:
    """What the experiment observed, per micro-batch."""

    batches: list[tuple[int, list]] = field(default_factory=list)  # (batch_id, rows)
    watermarks: list[tuple[int, str]] = field(default_factory=list)  # (batch_id, wm)

    @property
    def emitted_rows(self) -> list:
        return [r for _, rows in self.batches for r in rows]


def _close_lit(dtype: T.DataType, ts: str):
    """A ``dtype`` literal for a close-sentinel time: epoch nanos for the
    legacy int64-nanos encoding, else the string cast to the column's
    own timestamp type (NTZ or LTZ — the session tz is pinned UTC, so
    both are the same instant)."""
    if isinstance(dtype, T.LongType):
        return F.lit(calendar.timegm(datetime.fromisoformat(ts).timetuple()) * 10**9)
    return F.lit(ts).cast(dtype)


def write_close_sentinel(
    spark: SparkSession,
    path: str,
    values: Mapping[str, object] | None = None,
    first_copies: int = 1,
) -> T.StructType:
    """Append the two source-close sentinel files to a file-stream
    source dir, after its data files (the file source replays files in
    modification-time order), and return the dir's schema.

    Two files, not one: the first advances the source watermark past
    every real window at the end of batch N; window emission and
    event-time timeouts happen at the start of a batch, so a second
    sentinel batch N+1 is needed to flush — availableNow terminates
    once files are drained and runs no further no-data batch.

    ``values``: the sentinel row's non-ts columns (NULL for every
    column left out).  A query that filters before its watermark node
    must give the sentinel values that pass that filter, or the
    sentinel never reaches the watermark.

    ``first_copies``: copies of the first sentinel file.  With
    ``maxFilesPerTrigger`` = k > 1 the flush needs a batch boundary
    between the two sentinels; k copies of the first guarantee it:
    ceil((P+1+k)/k) = ceil((P+1)/k)+1, so the second always lands at
    least one batch after the first copy.  The duplicates are dropped
    with every other sentinel row."""
    values = values or {}
    schema = spark.read.parquet(path).schema
    for ts in _CLOSE_TIMES:
        sentinel = spark.range(1).select(
            *[
                (
                    _close_lit(f.dataType, ts)
                    if f.name == "ts"
                    else F.lit(values.get(f.name)).cast(f.dataType)
                ).alias(f.name)
                for f in schema.fields
            ]
        )
        for _ in range(first_copies if ts == FLUSH_TS else 1):
            sentinel.coalesce(1).write.mode("append").parquet(path)
    return schema


def run_skew_experiment(
    spark: SparkSession,
    partition_dirs: list[str],
    files_per_trigger: int = 1,
    window_size: str = "1 hour",
) -> ReplayResult:
    """Replay the reference experiment from per-partition parquet dirs.

    Each dir is one skewed source partition, its files named in event-
    time order; ``maxFilesPerTrigger`` paces the replay so watermark
    progression is observable across micro-batches (the reference's
    Thread.sleep pacing, PageviewTimestampAssigner.scala:9, made firing
    observable in wall time — micro-batches are Spark's natural pacing
    unit).  Uses foreachBatch to capture exactly which windows fire in
    which batch, and the query's watermark after each batch.
    """
    schema = spark.read.parquet(partition_dirs[0]).schema
    sources = [
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(d)
        for d in partition_dirs
    ]
    out = windowed_count_stream(sources, window_size=window_size)

    result = ReplayResult()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        result.batches.append((batch_id, batch_df.collect()))

    # Fresh checkpoint per invocation: reusing one across runs over the
    # same dirs would resume the drained query and replay nothing.
    with tempfile.TemporaryDirectory(prefix="replica_ckpt_") as ckpt:
        query = (
            out.writeStream.outputMode("append")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
    for p in query.recentProgress:
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm is not None:
            result.watermarks.append((p["batchId"], wm))
    return result
