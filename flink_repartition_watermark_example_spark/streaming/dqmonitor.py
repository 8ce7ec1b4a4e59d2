"""Incremental data-quality monitor over a stream.

The streaming face of the batch DQ family (queries_quality.py): each
micro-batch contributes an additive DELTA of per-event-hour rule
counters — (hour, n_events, n_errors, n_outliers, n_null_user) — as
one version of a versioned store (streaming/vstore.py holds the
protocol: exactly-once under crash replay, staging, empty batches,
compaction and crash recovery).  Algebra:

- counters are algebraic, so SUM over committed deltas equals the one
  batch aggregation over everything the stream saw — streamed in any
  arrival split == batch, exactly (the DuckDB oracle is the plain
  GROUP BY);
- per-batch cost is O(batch); stored state is O(hours-seen) rows per
  version regardless of stream length, and compaction folds versions
  losslessly;
- derived columns (error share, alert flag) are computed at READ time
  from the merged counters — a single division of exact longs — so the
  maintained state stays purely additive and replay-safe.

This is the "quality on arrival" production shape: a pipeline gates
ingest on the alert flag per event-time hour without ever recomputing
history, and late data folds into its own hour because the counters
key on EVENT time, not arrival time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.streaming.vstore import VersionedStore

# SLO thresholds of the monitored rules.  `value` above the outlier
# cut and the 'error' event type are the rules that actually fire on
# the synthetic distribution; null user_id is the validity rule that
# SHOULD stay at zero (a monitor with only-firing rules can't prove
# cleanliness, one with only-clean rules can't prove it's on).
VALUE_OUTLIER_CUT = 400.0
ERROR_SHARE_ALERT = 0.25

_STATE_SCHEMA = (
    "hour timestamp, n_events bigint, n_errors bigint, "
    "n_outliers bigint, n_null_user bigint"
)


def _batch_delta(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
            F.sum(F.when(F.col("value") > VALUE_OUTLIER_CUT, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_user"),
        )
    )


def _sum_counters(df: DataFrame) -> DataFrame:
    return df.groupBy("hour").agg(
        *[
            F.sum(c).cast("long").alias(c)
            for c in ("n_events", "n_errors", "n_outliers", "n_null_user")
        ]
    )


def dq_monitor_writer(state_path: str):
    """foreachBatch body: write the batch's per-hour counter delta as
    ``v{batch_id}``."""
    return VersionedStore(state_path).writer(_batch_delta)


def read_dq_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Merged counters: SUM of all committed deltas per hour."""
    return VersionedStore(state_path).merged(spark, _sum_counters, _STATE_SCHEMA)


def read_dq_report(spark: SparkSession, state_path: str) -> DataFrame:
    """The monitor's user-facing report: merged counters plus the
    derived share/alert columns (one exact-long division each)."""
    st = read_dq_state(spark, state_path)
    share = F.col("n_errors").cast("double") / F.col("n_events")
    return st.select(
        "hour",
        "n_events",
        "n_errors",
        "n_outliers",
        "n_null_user",
        share.alias("error_share"),
        (share > ERROR_SHARE_ALERT).alias("error_alert"),
    )


def compact_dq_state(spark: SparkSession, state_path: str) -> int:
    """Fold all committed versions into one (counter sum is lossless);
    returns the number of versions removed."""
    return VersionedStore(state_path).compact(spark, _sum_counters)
