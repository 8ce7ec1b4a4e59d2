"""Incremental per-dimension |x|-max index — the int8 quantization
scales (``embedding_int8_quant_stats``'s s_j = max|x_j| / 127)
maintained under streaming ingest.

This adds a THIRD algebraic class to the streaming package, next to
the additive counters (anomaly/CMS: sum-merge) and the membership
indexes (dedup grains: min-id/first-wins):

- max is commutative and associative, so merged deltas equal the
  batch maximum in ANY arrival order (the counters' contract), AND
- max is IDEMPOTENT: re-merging a duplicated delta cannot change the
  result.  The versioned-store protocol of streaming/vstore.py still
  applies (replays skip cheaply and crash repair is shared), but
  idempotence means even a MISSED replay skip is value-safe — a
  guarantee neither sums nor membership can offer, pinned by
  tests/test_streaming_int8scale.py.

Each micro-batch contributes a 64-row (j, mx) delta — max|x_j| over
the batch — as one version of the store.  The merged scale set is
max-of-deltas / 127, exactly the batch computation.

Scale shape: per-batch state is O(dims); the merged read is O(dims ×
versions) before compaction, O(dims) after — the vectors never
re-scan.  At 100 TB/day ingest this is the bounded-aggregate argument
of the counter indexes, with an even smaller state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.functions.vectors import as_double
from flink_repartition_watermark_example_spark.streaming.vstore import VersionedStore

INT8_LEVELS = 127.0


def _max_abs(df: DataFrame) -> DataFrame:
    return df.groupBy("j").agg(F.max("mx").alias("mx"))


def dim_max_writer(index_path: str, *, vec_col: str = "embedding"):
    """foreachBatch body: write the batch's per-dimension |x|-max as
    ``v{batch_id}``.  Keyword-required column (the streaming/sketch.py
    key_col lesson): a caller streaming a differently-named vector
    column must say so explicitly."""
    return VersionedStore(index_path).writer(
        lambda df: df.select(F.posexplode(as_double(vec_col)).alias("j0", "x"))
        .select((F.col("j0") + 1).cast("long").alias("j"), F.abs("x").alias("ax"))
        .groupBy("j")
        .agg(F.max("ax").alias("mx"))
    )


def read_dim_scales(spark: SparkSession, index_path: str) -> DataFrame:
    """The merged scales: MAX over all committed deltas per dimension,
    divided by 127 — equals the batch scale computation after any
    arrival order, and after any replay duplication (idempotence)."""
    return VersionedStore(index_path).merged(
        spark, _max_abs, "j bigint, mx double"
    ).select("j", (F.col("mx") / F.lit(INT8_LEVELS)).alias("s"))


def compact_scales(spark: SparkSession, index_path: str) -> int:
    """Fold every committed version into one (max-merge is lossless
    AND idempotent); returns the number of versions removed."""
    return VersionedStore(index_path).compact(spark, _max_abs)
