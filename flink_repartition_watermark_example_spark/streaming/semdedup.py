"""Incremental SemDeDup over an embedding stream — semantic-dedup
index maintenance as vectors arrive, the continuous counterpart of
``operators.similarity.semantic_dedup`` exactly as
``streaming/neardup.py`` is the continuous LSH pipeline.

Per micro-batch (foreachBatch, the CDC-MERGE-sink device):

1. the batch's vectors are assigned to their nearest coarse centroid
   through the same fold-exact numpy kernel as the batch operator
   (centroids ship in the closure — trained once, exactly the
   production pattern);
2. an arriving vector is PURGED when some cluster-mate with a LOWER
   vec_id — already indexed, or earlier in this batch — has cosine
   >= threshold with it; candidate generation is new-vs-INDEX plus
   new-vs-new, both equi-joins on list_id, never all-pairs;
3. survivors append to the survivors output; ALL batch vectors
   (survivors and purged alike — lower-id purged vectors still purge
   later arrivals, exactly as in the batch rule) merge into the
   index.

Algebra: the index is a plain union of per-batch deltas, written
``partitionBy("list_id")``; a batch stages its index delta, writes its
survivors, and only then commits the delta.  Exactly-once under crash
replay, staging, empty batches and compaction are the versioned-store
protocol of streaming/vstore.py; the survivors output is one
``v{batch_id}`` dir per batch, so a replayed batch overwrites its own.

Scale shape: each index version is written ``partitionBy("list_id")``
and the new-vs-index join carries list_id in its keys, so the lookup
prunes to the clusters the new vectors fall into — per-batch cost is
O(new vectors x touched-cluster sizes), independent of corpus age.
The centroid count is the corpus-size lever (grow it ~sqrt(n) so
cluster populations stay bounded), identical to the batch operator.
State is the parquet index — disk-bounded, restart-safe — never
executor memory.

Equivalence contract (tested): streaming the corpus in vec_id-ordered
splits yields exactly the batch ``semantic_dedup`` survivors, because
the purge rule only ever consults lower-id vectors and those are all
indexed by arrival time.  With UNORDERED splits the rule is
emission-time (as in streaming/neardup.py's cap semantics): a vector
emitted as a survivor is not retroactively withdrawn when a lower-id
near-twin arrives later; the late twin is purged instead.  A
re-ranked batch pass over the final index reconciles when exact batch
semantics are required.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.functions.vectors import as_double
from flink_repartition_watermark_example_spark.operators.similarity import (
    _fold_dot_matrix,
    _fold_norm,
    _score_pairs,
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
    import numpy as np
    import pandas as pd

    cents = sorted(centroids)
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    cnorms = _fold_norm(C)

    def assign_top1(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv = _fold_norm(V)
            cos = _fold_dot_matrix(V, C) / (nv[:, None] * cnorms[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "nv": nv,
                    "list_id": cids[np.argmax(cos, axis=1)],
                }
            )

    index = _index(index_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        if index.begin(bid):
            return  # this batch's vectors are already in the snapshot

        # Stage the assignment and re-read it for the joins: the Arrow
        # assignment kernel runs exactly once per batch (uncached, the
        # self-join + anti-join would recompute it ~4x).  The stage is
        # committed as v{bid} only after the survivors write, so a
        # folded delta always implies committed survivors.
        assigned = batch_df.select(
            "vec_id", as_double("embedding").alias("v")
        ).mapInPandas(
            assign_top1,
            schema="vec_id long, v array<double>, nv double, list_id long",
        )
        if index.stage(assigned, bid) == 0:
            return  # empty micro-batch: no index rows, no survivors
        # partition-column type inference can narrow list_id to int
        new = index.read_stage(spark, bid).withColumn(
            "list_id", F.col("list_id").cast("long")
        )

        mates = new.select("vec_id", "v", "nv", "list_id")
        old = index.read(spark, below=bid)
        if old is not None:
            mates = mates.unionByName(
                old.select("vec_id", "v", "nv", "list_id")
            )
        a = mates.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("nqv"),
            F.col("list_id").alias("a_list"),
        )
        joined = new.join(
            a,
            (F.col("a_list") == F.col("list_id"))
            & (F.col("query_id") < F.col("vec_id")),
        ).select("query_id", "qv", "nqv", "vec_id", "v", "nv")
        purged = (
            _score_pairs(joined)
            .where(F.col("cos_sim") >= threshold)
            .select("vec_id")
            .dropDuplicates()
        )
        survivors = new.join(purged, "vec_id", "left_anti").select(
            "vec_id", "list_id"
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(survivors_path, f"v{bid}")
        )
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
