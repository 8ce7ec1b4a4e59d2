"""Incremental ingest-rate anomaly monitoring over an event stream —
the continuous counterpart of the batch ``rolling_anomaly_hours``
query, built on an ADDITIVE hourly-count index (the
streaming/sketch.py counter discipline, not the dedup indexes'
membership discipline).

Each micro-batch contributes a delta of exact per-(event_type, hour)
counts as one version of a versioned store (streaming/vstore.py holds
the protocol: exactly-once under crash replay, staging, empty batches,
compaction and crash recovery).

Algebra: the merged state is a pure SUM over deltas — counts are
algebraic, so after replaying a corpus in ANY split order the merged
hourly counts equal the batch aggregation exactly, and the detector
output equals the batch query exactly
(``tests/test_streaming_anomaly.py`` asserts row-set equality).  No
arrival-order caveat at all — the strongest stream==batch contract in
the streaming package, because counter addition commutes where dedup
membership does not.  Compaction is the same sum, so it is lossless.

The detector itself is ``queries_catalog.rolling_zscore_anomalies``
— the SAME function the batch query runs, applied to the merged
counts — so stream and batch can never drift: the contract is the
counts' additivity plus one shared detector.

Scale shape: per-batch state written is O(types x hours touched by
the batch); the merged read is O(types x hours) total — the corpus
never re-scans.  At 100 TB/day ingest the index is the tiny
aggregate, exactly the bounded-state argument of the CMS index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.streaming.vstore import VersionedStore


def _sum_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type", "h").agg(F.sum("n").cast("long").alias("n"))


def hourly_count_writer(index_path: str, *, ts_col: str = "ts",
                        key_col: str = "event_type"):
    """foreachBatch body: write the batch's exact (key, hour, n)
    count delta as ``v{batch_id}``.  Keyword-required columns (the
    streaming/sketch.py key_col lesson): a caller counting a
    different stream must say so explicitly."""
    return VersionedStore(index_path).writer(
        lambda df: df.groupBy(
            F.col(key_col).alias("event_type"),
            F.date_trunc("hour", ts_col).alias("h"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )


def read_hourly_counts(spark: SparkSession, index_path: str) -> DataFrame:
    """The merged counts: SUM of all committed deltas per (type,
    hour) — equals the batch aggregation over everything the
    committed versions saw, in any arrival order."""
    return VersionedStore(index_path).merged(
        spark, _sum_counts, "event_type string, h timestamp, n bigint"
    )


def detect_anomalies(spark: SparkSession, index_path: str) -> DataFrame:
    """Run the SHARED batch detector over the merged index — the
    monitoring readout a pipeline queries after (or between)
    micro-batches."""
    from flink_repartition_watermark_example_spark.queries_catalog import rolling_zscore_anomalies

    return rolling_zscore_anomalies(read_hourly_counts(spark, index_path))


def compact_counts(spark: SparkSession, index_path: str) -> int:
    """Fold every committed version into one (counter sums are
    lossless); returns the number of versions removed."""
    return VersionedStore(index_path).compact(spark, _sum_counts)
