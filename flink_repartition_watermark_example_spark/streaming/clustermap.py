"""Incremental cluster-map maintenance over a document stream — the
step AFTER pairs (VERDICT r11 #5): connected-component labels and the
cluster-keyed train/val/test split, kept current as documents arrive.

All four dedup grains already have streaming indexes; this closes the
gap they left: a newly arrived document can MERGE two existing
components, which invalidates split assignments made from the old
labels.  The writer maintains, per micro-batch (foreachBatch):

1. **simhash band index** — the batch's docs get 60-bit simhashes and
   4×15-bit band keys (identical geometry to the batch
   ``simhash_neardup_pairs`` pipeline); the delta is staged in the
   versioned store (streaming/vstore.py holds the protocol),
   band-partitioned and (bucket, key)-clustered within each band's
   file (row-group min/max stats carry the bucket dimension), so the
   new-vs-index candidate join prunes to the bands/buckets the batch
   touches and per-batch cost is independent of corpus age.  Its
   algebra is a plain union; the delta commits after the map write.
2. **new pairs** — new-vs-new plus new-vs-index candidates on
   (band, bucket, key) (``neardup.candidate_pairs``, shared with the
   LSH index), verified by ``bit_count(xor) <= max_hamming``.
3. **LABEL-GRAPH merge** — the genuinely incremental step: each new
   pair (a, b) is an edge between label(a) and label(b) (a new doc's
   initial label is itself), and connected components run over THAT
   graph — O(batch pairs) vertices, never the corpus.  Because every
   label is the min doc_id of its component and min is associative,
   the merged label (min of merged labels) equals the batch CC label
   over all edges seen so far — streamed-in-any-split equals batch
   EXACTLY (tested), not approximately.  Only rows of TOUCHED
   clusters are relabeled; the split column is recomputed for exactly
   those rows (split is a pure md5 function of the label).
4. **versioned map snapshot** — (doc_id, cluster_id, split) written as
   ``v{batch_id}`` under the map path, the sinks.cdc_merge_writer
   discipline: the base read is always the newest version BELOW the
   current batch id, so a crash-replayed batch re-reads the same base
   and overwrites its own output (exactly-once); readers resolve the
   highest committed version, older versions give AS-OF time travel
   (sinks.read_cdc_snapshot reads these directly).

Compaction of the band index (:func:`compact_index`) is the shared
versioned-store compaction; the map needs none — each version is
already a full snapshot, and sinks.vacuum_cdc_snapshot applies for
retention.

The bucket cap caveat is inherited from streaming/neardup.py: with
``max_bucket_docs`` set, candidate emission is capped against the
population known AT EMISSION TIME, so a bucket that later crosses the
cap keeps its early pairs (a batch run over the final corpus would
have dropped the whole bucket).  The stream==batch equality contract
is therefore stated (and tested) with the cap disabled on both sides,
like the neardup equivalence contract.

At 100 TB: the index is disk-bounded parquet partitioned to prune per
batch; the label graph is bounded by the batch's pair count; the only
corpus-sized relation per batch is the map rewrite, which a real
deployment replaces with a transactional-format MERGE (Delta/Iceberg)
touching changed rows — the compute is already touched-clusters-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators.dedup import (
    MAX_BUCKET_DOCS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
    simhash,
)
from flink_repartition_watermark_example_spark.operators.graph import (
    DRIVER_CC_MAX_EDGES,
    connected_components,
)
from flink_repartition_watermark_example_spark.sinks import read_cdc_snapshot
from flink_repartition_watermark_example_spark.streaming.neardup import (
    INDEX_BUCKETS,
    candidate_pairs,
)
from flink_repartition_watermark_example_spark.streaming.vstore import (
    VersionedStore,
    versions,
)

_W = SIMHASH_BITS // SIMHASH_BANDS


def _banded(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, simhash, band, key, bucket): the batch simhash banding
    (operators/dedup.simhash_neardup_pairs geometry) plus the
    partition-pruning bucket column of the streaming indexes."""
    sh = simhash(docs, text_col)
    return sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * _W).bitwiseAND(
                        F.lit((1 << _W) - 1).cast("long")
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    ).withColumn("bucket", F.pmod(F.col("key"), F.lit(INDEX_BUCKETS)))


def _split_col(label):
    from flink_repartition_watermark_example_spark.functions.hashing import md5_long

    bucket = md5_long(label.cast("string"), salt="split") % 100
    return (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )


# The materialized (doc_id, cluster_id, split) map: highest committed
# version, or AS-OF ``version=`` (a batch id).
read_cluster_map = read_cdc_snapshot


def _index(index_path: str) -> VersionedStore:
    return VersionedStore(index_path, ("band",))


def _clustered(bands: DataFrame) -> DataFrame:
    # Index-version layout (measured r12): partition dirs by BAND
    # only (4 dirs/version) and cluster each band's file by
    # (bucket, key) so parquet row-group min/max stats carry the
    # bucket dimension — the guide §6 layout (partition by the
    # low-cardinality column, sort by the high-cardinality one).
    # The earlier partitionBy(band, bucket) wrote <=256 dirs per
    # version; the per-dir commit overhead was 2.7 s/batch at
    # sf0.1 (8.3 s of the 28.4 s replay) and the extra pruning it
    # bought over row-group stats is marginal because a corpus-
    # sized batch touches every bucket anyway.
    return bands.repartition("band").sortWithinPartitions("bucket", "key")


def compact_index(spark: SparkSession, index_path: str) -> int:
    """Fold all committed band-index versions into one snapshot (a
    plain union, re-clustered); returns the surviving version id, -1
    when empty."""
    _index(index_path).compact(spark, _clustered)
    return (versions(index_path) or [-1])[-1]


def cluster_map_writer(
    index_path: str,
    map_path: str,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_bucket_docs: int | None = MAX_BUCKET_DOCS,
):
    """foreachBatch body maintaining the simhash band index and the
    versioned (doc_id, cluster_id, split) cluster map.  See the module
    docstring for the per-batch algorithm and the exactly-once /
    stream==batch contracts."""

    index = _index(index_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        if index.begin(bid):
            return  # delta already folded into the compacted snapshot

        # Stage the band-index delta FIRST and read it back for every
        # downstream join (the streaming/semdedup.py discipline, r12):
        # the simhash+banding pipeline is materialized exactly once BY
        # the write the index needs anyway, replacing the separate
        # eager-localCheckpoint job that previously materialized the
        # same rows a second time.  The stage commits after the map
        # write, so a folded delta always implies a committed map.
        if index.stage(_clustered(_banded(batch_df, text_col)), bid) == 0:
            return  # empty replay split: nothing to merge
        new = index.read_stage(spark, bid)
        old = index.read(spark, below=bid)

        cand = candidate_pairs(new, old, "key", "simhash", max_bucket_docs)
        pairs = (
            cand.select(
                "doc_a",
                "doc_b",
                F.bit_count(F.col("val_a").bitwiseXOR(F.col("val_b")))
                .cast("long")
                .alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b")
            # not pinned: `pairs` feeds exactly one consumer (the
            # ledges join below, itself checkpointed), so a separate
            # materialization job here was pure overhead (measured
            # r12: ~1 s/replay at sf0.1 batch sizes)
        )

        prior = [v for v in versions(map_path) if v < bid]
        if prior:
            base = read_cluster_map(spark, map_path, version=max(prior)).select(
                "doc_id", "cluster_id"
            )
        else:
            base = spark.createDataFrame(
                [], "doc_id long, cluster_id long"
            )

        # label-graph merge: endpoints resolve to their CURRENT labels
        # (a doc this batch introduces labels itself), and CC runs over
        # the label graph only — O(batch pairs) vertices.  `lbl` is
        # pinned: the corpus-sized base∪new-docs subtree otherwise
        # re-executes once per consumer branch (la, lb, the final
        # relabel join — Catalyst shares no subtrees), re-reading the
        # base snapshot and re-running the anti-join each time
        # (measured r12: ~7 executions per batch across ledges/lverts/
        # merged).  `ledges` is pinned too so the vertex derivation and
        # the CC dispatch read the materialized O(batch pairs) edge
        # rows instead of re-running the two label joins.
        lbl = base.unionByName(
            batch_df.select(
                "doc_id", F.col("doc_id").alias("cluster_id")
            ).join(base.select("doc_id"), "doc_id", "left_anti")
        ).localCheckpoint(eager=True)
        la = lbl.select(
            F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("la")
        )
        lb = lbl.select(
            F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("lb")
        )
        # MEASURED AND REJECTED (r13): broadcasting the pair side of
        # both label joins (la ⋈ broadcast(pairs), then
        # lb ⋈ broadcast(half)) to spare lbl the two 8-wide shuffles
        # ran SLOWER (ledges phase 2.45–2.86 s/replay as-is vs
        # 2.94–3.67 s with the hints): the phase's real cost is
        # executing the unpinned candidate-pair plan (single consumer —
        # see the `pairs` comment above), and the two broadcast builds
        # serialize it behind blocking driver collect barriers while
        # the label shuffles they remove are O(batch pairs) rows wide.
        ledges = (
            pairs.join(la, "doc_a")
            .join(lb, "doc_b")
            .select("la", "lb")
            .where(F.col("la") != F.col("lb"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        lverts = ledges.select(F.col("la").alias("v")).unionByName(
            ledges.select(F.col("lb").alias("v"))
        ).distinct()
        relabel = (
            # the label graph is O(batch pairs) at any corpus age —
            # the structurally bounded case the union-find tier is for.
            # ledges is distinct by construction, so the tier's
            # raw-edge-count probe bound equals the distinct bound
            # (ADVICE r12 #3).
            connected_components(
                lverts,
                ledges,
                "v",
                "la",
                "lb",
                driver_max_edges=DRIVER_CC_MAX_EDGES,
            )
            .where(F.col("component") != F.col("v"))
            .select(F.col("v").alias("cluster_id"), F.col("component").alias("new_id"))
        )

        # touched-clusters-only relabel + recomputed split for exactly
        # those rows; untouched rows keep label AND split (split is a
        # pure function of the label).
        merged = (
            lbl.join(F.broadcast(relabel), "cluster_id", "left")
            .select(
                "doc_id",
                F.coalesce("new_id", "cluster_id").alias("cluster_id"),
            )
            .withColumn("split", _split_col(F.col("cluster_id")))
        )
        # repartition before the snapshot write so AQE sizes the output
        # files from the data (one file at sf0.1, 128MB-advisory-sized
        # files at scale) instead of one tiny file per upstream task —
        # and the NEXT batch's base read starts from that many splits.
        merged.repartition("doc_id").write.mode("overwrite").parquet(
            os.path.join(map_path, f"v{bid}")
        )
        index.commit(bid)

    return write
