"""Incremental count-min sketch maintenance over a stream.

Each micro-batch contributes an algebraic DELTA sketch — the batch's
own (depth, cell, n) counts — as one version of a versioned store
(streaming/vstore.py holds the protocol: exactly-once under crash
replay, staging, empty batches, compaction and crash recovery).

Algebra: the merged sketch is a pure SUM over deltas.  Count-min
cells are counters, so SUM over deltas is bit-identical to building
one sketch over the union of all batches — streamed-in-any-split ==
batch, exactly (``tests/test_streaming_sketch.py`` asserts set
equality) — and compaction, the same sum, is lossless.  Per-batch
cost is O(batch × depth); the stored state is at most depth × width
rows per version regardless of stream length.

At 100 TB the sketch answers heavy-hitter / frequency queries over an
unbounded stream with bounded state — the same algebraic-partials
argument the batch CMS (operators/sketch.py) makes, extended across
micro-batches and restarts.  The HLL variant below maintains per-group
distinct counts under the identical protocol (register-max union in
place of counter sum)"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators.sketch import (
    cms_build,
    cms_estimate,
)
from flink_repartition_watermark_example_spark.streaming.vstore import VersionedStore


def _cms_sum(df: DataFrame) -> DataFrame:
    return df.groupBy("depth", "cell").agg(F.sum("n").cast("long").alias("n"))


def cms_sketch_writer(sketch_path: str, *, key_col: str):
    """foreachBatch body: write each batch's delta sketch as
    ``v{batch_id}``.

    ``key_col`` is keyword-required with no default: the old
    ``key_col="url"`` default let a caller sketching a different
    column silently count the wrong thing (the exact foot-gun behind
    round 5's red streaming-sketch tests)."""
    return VersionedStore(sketch_path).writer(lambda df: cms_build(df, F.col(key_col)))


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The merged sketch: SUM of all committed deltas per (depth,
    cell).  Counters are algebraic, so this equals the batch sketch
    over everything the committed versions saw."""
    return VersionedStore(sketch_path).merged(
        spark, _cms_sum, "depth int, cell bigint, n bigint"
    )


def compact_sketch(spark: SparkSession, sketch_path: str) -> int:
    """Fold every committed version into one (the counters sum
    losslessly); returns the number of versions removed."""
    return VersionedStore(sketch_path).compact(spark, _cms_sum)


def estimate_from_sketch(
    spark: SparkSession,
    sketch_path: str,
    keys: DataFrame,
    key: Column,
) -> DataFrame:
    """Point-estimate candidate keys against the maintained sketch
    (min over depth — the standard CMS upper-bound estimate)."""
    return cms_estimate(read_cms_sketch(spark, sketch_path), keys, key)


# --- incremental HLL (distinct-count) index --------------------------------
#
# Same versioned-delta discipline, different algebra: HLL registers
# merge by element-wise MAX (hll_union_agg), which is idempotent AND
# commutative — so like the CMS counters, any batch split of the
# stream unions to EXACTLY the sketch of the whole input, replays are
# idempotent, and compaction is lossless.  Per-group state is one
# fixed-size binary sketch regardless of stream length: the shape that
# answers "distinct users per key, ever" over an unbounded stream with
# bounded state.


def _hll_union(group_col: str):
    return lambda df: df.groupBy(group_col).agg(F.hll_union_agg("sk").alias("sk"))


def hll_sketch_writer(sketch_path: str, key_col: str, group_col: str):
    """foreachBatch body: write each batch's per-group HLL sketch as
    the ``v{batch_id}`` delta."""
    return VersionedStore(sketch_path).writer(
        lambda df: df.groupBy(group_col).agg(F.hll_sketch_agg(key_col).alias("sk"))
    )


def read_hll_sketch(spark: SparkSession, sketch_path: str, group_col: str) -> DataFrame:
    """The merged per-group sketch: register-max union of all committed
    deltas — equals the one-shot sketch over everything they saw."""
    return VersionedStore(sketch_path).merged(
        spark, _hll_union(group_col), f"{group_col} string, sk binary"
    )


def compact_hll_sketch(
    spark: SparkSession, sketch_path: str, group_col: str
) -> int:
    """Fold all committed versions into one (register-max is lossless);
    returns the number of versions removed."""
    return VersionedStore(sketch_path).compact(spark, _hll_union(group_col))
