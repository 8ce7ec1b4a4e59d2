"""Plan-shape guard for the streaming interval joins' watermark wiring.

The close-sentinel replay (queries_streaming._replay) keeps each
join side's watermark alive by making sentinel rows survive every
filter Catalyst places BELOW that side's EventTimeWatermark node.
Today those filters are the user-written ``event_type = <side>`` and
the *inferred* ``isnotnull(user_id)`` that Catalyst derives from the
join's equi-key and pushes into the scan — the exact behavior that
once froze the purchase-side watermark when sentinels carried NULL
user_id (see the _replay docstring).

These tests pin that contract against Spark upgrades, analysis-only
(no stream is started):

1. every filter below a watermark references only the columns the
   typed sentinels populate (ts, event_type, user_id) — a newly
   inferred predicate on any other column would silently starve a
   watermark and fails here first;
2. the inferred ``isnotnull(user_id)`` IS below the watermark — if an
   upgrade stops inferring or stops pushing it, the sentinel design
   notes need revisiting, so the test flags that too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.plans.introspect import (
    watermark_shapes,
)
from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.streaming.eventtime import (
    ensure_event_time,
)
from flink_repartition_watermark_example_spark.streaming.join import (
    interval_join_left_outer,
    interval_join_views_purchases,
)

# Columns the typed close sentinels populate (ts + one row per
# event_type with user_id = -1); every below-watermark predicate must
# confine itself to these or sentinels can be dropped pre-watermark.
SENTINEL_SAFE_COLS = {"ts", "event_type", "user_id"}


def _side(spark, sf_dir: str, event_type: str) -> DataFrame:
    """The exact per-side construction of q_streaming_interval_join:
    raw file stream -> event-time normalization -> event_type filter
    (the filter lands below the watermark added inside the join)."""
    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    raw = spark.readStream.schema(raw_schema).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return ensure_event_time(raw).where(F.col("event_type") == event_type)


def _assert_sentinel_safe(
    joined: DataFrame, isnotnull_sides: set[str]
) -> None:
    """``isnotnull_sides``: watermark columns whose side must carry the
    inferred ``isnotnull(user_id)`` below the watermark — both sides of
    an inner join, only the non-preserved side of a left outer (no
    null-rejection is inferred for the preserved side)."""
    shapes = watermark_shapes(joined)
    assert {s.event_time for s in shapes} == {"view_ts", "purchase_ts"}, (
        "expected one watermark per join side, got "
        f"{[s.event_time for s in shapes]}"
    )
    for s in shapes:
        for sql, refs in s.below_filters:
            extra = refs - SENTINEL_SAFE_COLS
            assert not extra, (
                f"filter below the {s.event_time} watermark references "
                f"column(s) {sorted(extra)} the close sentinels do not "
                f"populate — sentinels would be dropped pre-watermark "
                f"and the side's watermark would freeze: {sql}"
            )
        if s.event_time not in isnotnull_sides:
            continue
        # The behavior the typed (user_id = -1) sentinels compensate
        # for: the join-key isnotnull is inferred AND pushed below the
        # watermark.  Its disappearance is also a contract change.
        assert any(
            "user_id" in refs and "IS NOT NULL" in sql
            for sql, refs in s.below_filters
        ), (
            f"inferred isnotnull(user_id) no longer sits below the "
            f"{s.event_time} watermark — Catalyst's pushdown behavior "
            f"changed; revisit the sentinel notes in "
            f"queries_streaming._replay: "
            f"{[sql for sql, _ in s.below_filters]}"
        )


def test_interval_join_watermark_filters_are_sentinel_safe(spark, sf_dir):
    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    joined = interval_join_views_purchases(
        _side(spark, sf_dir, "view"), _side(spark, sf_dir, "purchase")
    )
    _assert_sentinel_safe(joined, {"view_ts", "purchase_ts"})


def test_left_outer_interval_join_watermark_filters_are_sentinel_safe(
    spark, sf_dir
):
    load_table(spark, sf_dir, "events")
    joined = interval_join_left_outer(
        _side(spark, sf_dir, "view"),
        _side(spark, sf_dir, "purchase"),
        keep_view_ts=True,
    )
    # preserved (view) side: Catalyst infers no null-rejection from the
    # outer join's equi-key, so only event_type sits below its watermark
    _assert_sentinel_safe(joined, {"purchase_ts"})
