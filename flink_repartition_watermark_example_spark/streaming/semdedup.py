"""Incremental SemDeDup over an embedding stream — semantic-dedup
index maintenance as vectors arrive, the continuous counterpart of
``operators.similarity.semantic_dedup`` exactly as
``streaming/neardup.py`` is the continuous LSH pipeline.

Per micro-batch (foreachBatch, the CDC-MERGE-sink device), the batch
operator's own kernels run on the batch — the stream is the batch
query applied incrementally, not a second implementation:

1. the batch's vectors are assigned to their nearest coarse centroid
   by the batch operator's closure kernel
   (``similarity._closure_assignment``; centroids ship in the closure
   — trained once, exactly the production pattern);
2. the new rows are grouped with the index rows of the lists they
   touch and judged by the batch purge kernel
   (``similarity._purge_within_lists``): a new vector is PURGED when it
   has cosine >= threshold with ANY indexed row of its list, or with
   a lower-id row of its own batch; indexed rows are never re-judged;
3. survivors append to the survivors output; ALL batch vectors
   (survivors and purged alike — purged vectors still purge later
   arrivals, exactly as in the batch rule) merge into the index.

Algebra: the index is a plain union of per-batch deltas, written
``partitionBy("list_id")``; a batch stages its index delta, writes its
survivors, and only then commits the delta.  Exactly-once under crash
replay, staging, empty batches and compaction are the versioned-store
protocol of streaming/vstore.py; the survivors output is one whole
version per batch (``VersionedStore.put``), so a replayed batch
replaces its own.

Scale shape: each index version is written ``partitionBy("list_id")``
and the index rows join the batch by a semi-join on list_id, so the
lookup prunes to the clusters the new vectors fall into — per-batch cost is
O(new vectors x touched-cluster sizes), independent of corpus age.
The centroid count is the corpus-size lever (grow it ~sqrt(n) so
cluster populations stay bounded), identical to the batch operator.
State is the parquet index — disk-bounded, restart-safe — never
executor memory.

Equivalence contract (tested): streaming the corpus in vec_id-ordered
splits yields exactly the batch ``semantic_dedup`` survivors — every
indexed row has a lower id than the batch, so "any indexed row" is the
batch rule's "any lower-id row".  With UNORDERED splits the rule is
emission-time (as in streaming/neardup.py's cap semantics): a vector
emitted as a survivor is not retroactively withdrawn when a lower-id
near-twin arrives later; the late twin is purged instead, so no two
survivors of one list are ever within the threshold.  A batch pass
over the final index reconciles when exact batch semantics are
required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.functions.vectors import as_double
from flink_repartition_watermark_example_spark.operators.similarity import (
    _closure_assignment,
    _purge_within_lists,
)
from flink_repartition_watermark_example_spark.streaming.vstore import (
    VersionedStore,
    read_outputs,
    versions,
)


def _index(index_path: str) -> VersionedStore:
    return VersionedStore(index_path, ("list_id",))


def semdedup_index_writer(
    index_path: str,
    survivors_path: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.25,
):
    """foreachBatch body: maintain the cluster index and emit the
    batch's surviving (vec_id, list_id) rows.

    ``centroids``: [(centroid_id, vector), ...] — the trained coarse
    index, fixed for the stream's lifetime (retraining is a new
    stream + backfill, as in production ANN services)."""
    cents = sorted(centroids)
    index = _index(index_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        if index.begin(bid):
            return  # this batch's vectors are already in the snapshot

        # Stage the assignment and re-read it for the purge: the Arrow
        # assignment kernel runs exactly once per batch.  The stage is
        # committed as v{bid} only after the survivors write, so a
        # folded delta always implies committed survivors.
        assigned = _closure_assignment(
            batch_df.select("vec_id", as_double("embedding").alias("v")), cents
        )
        if index.stage(assigned, bid) == 0:
            return  # empty micro-batch: no index rows, no survivors
        # partition-column type inference can narrow list_id to int
        new = index.read_stage(spark, bid).withColumn(
            "list_id", F.col("list_id").cast("long")
        )
        rows = new.withColumn("fresh", F.lit(True))
        old = index.read(spark, below=bid)
        if old is not None:
            # the semi-join on the partition column prunes the index
            # to the lists this batch touches
            touched = old.join(new.select("list_id").distinct(), "list_id", "left_semi")
            rows = rows.unionByName(
                touched.select("vec_id", "v", "nv", "list_id").withColumn(
                    "fresh", F.lit(False)
                )
            )
        survivors = _purge_within_lists(rows, threshold)
        VersionedStore(survivors_path).put(survivors, bid)
        index.commit(bid)

    return write


def read_semdedup_survivors(spark: SparkSession, survivors_path: str) -> DataFrame:
    """All survivors emitted so far (union of committed batch outputs)."""
    return read_outputs(spark, survivors_path, "survivors")


def compact_index(spark: SparkSession, index_path: str) -> int:
    """Fold all committed index versions into one partitioned snapshot
    (a plain union); returns the surviving version id, -1 when empty."""
    _index(index_path).compact(spark, lambda df: df)
    return (versions(index_path) or [-1])[-1]
