"""Incremental near-duplicate detection over a document stream —
LSH index maintenance as data arrives, the shape a production dedup
service runs continuously instead of re-scanning the corpus.

Per micro-batch (foreachBatch, like the CDC MERGE sink):

1. the batch's docs get minhash signatures + LSH band hashes
   (operators/dedup.py — identical geometry to the batch pipeline);
2. candidate pairs = new-vs-INDEX (equi-join on (band, bucket,
   band_hash) against the persisted index) plus new-vs-new
   (within-batch self-join) — an arriving doc is checked against
   everything seen WITHOUT rescanning it;
3. confirmed pairs (estimated jaccard ≥ threshold over the signature
   arrays) append to the pairs output, and the batch's signatures and
   bands merge into the index.

Algebra: the index is a plain union of per-batch deltas, written
``partitionBy("band", "bucket")``; a batch writes its pairs before
its index delta.  Exactly-once under crash replay, staging, empty
batches and compaction are the versioned-store protocol of
streaming/vstore.py; the pairs output is one whole version per batch
(``VersionedStore.put``), so a replayed batch replaces its own.

Scale shape: each index version is written ``partitionBy("band",
"bucket")`` with bucket = band_hash mod INDEX_BUCKETS, and the
new-vs-index join carries (band, bucket) in its keys — so the lookup
prunes to the partitions the new docs hash into (statically when the
new side is literal-foldable, via dynamic partition pruning when it is
broadcast), and per-batch cost is O(new docs × touched-bucket sizes),
independent of corpus age.  (bucket rather than raw band_hash is the
partition key: band_hash is ~unique per doc, and one directory per
distinct hash would be a small-files explosion — 4×INDEX_BUCKETS
directories per version caps the fanout.)  State is the parquet index
— disk-bounded, restart-safe, shared by any number of readers — not
executor memory.

Degenerate buckets get the SAME cap as every batch twin
(operators/dedup.MAX_BUCKET_DOCS): a (band, band_hash) population —
new docs plus indexed docs — larger than the cap is excluded from
candidate generation for this batch (its docs are still indexed).  An
uncapped hot bucket (near-empty docs all hashing together) would make
the per-batch joins quadratic.  One divergence from the batch
discipline is inherent to streaming and documented here: the cap is
evaluated against the population KNOWN AT EMISSION TIME, so pairs
emitted before a bucket crossed the cap stay in the output, whereas a
batch run over the final corpus would have dropped the whole bucket.

Equivalence contract (tested): with the cap disabled
(max_bucket_docs=None), streaming the corpus in ANY batch split yields
exactly the pairs of the batch ``lsh_candidate_pairs`` (bucket cap
likewise disabled) over the full corpus, because minhash signatures
are per-doc and bucket membership is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators.dedup import (
    MAX_BUCKET_DOCS,
    lsh_bands,
    minhash_sig_array,
)
from flink_repartition_watermark_example_spark.streaming.vstore import (
    VersionedStore,
    read_outputs,
    versions,
)

# Partition fanout per index version: 4 bands × this many hash-mod
# buckets.  Coarse enough to avoid a small-files problem, fine enough
# that a batch touching few buckets prunes most of the index.
INDEX_BUCKETS = 64


def _bucket(col):
    return F.pmod(F.col(col), F.lit(INDEX_BUCKETS)).cast("int")


def _index(index_path: str) -> VersionedStore:
    return VersionedStore(index_path, ("band", "bucket"))


def _est_jaccard():
    agree = F.size(
        F.filter(
            F.zip_with(F.col("val_a"), F.col("val_b"), lambda x, y: x == y),
            lambda e: e,
        )
    )
    return (agree.cast("double") / F.size(F.col("val_a"))).alias("est_jaccard")


def candidate_pairs(
    new: DataFrame,
    old: DataFrame | None,
    hash_col: str,
    val: str,
    max_bucket_docs: int | None,
) -> DataFrame:
    """Distinct (doc_a < doc_b, val_a, val_b) candidates of a banded
    batch ``new`` (doc_id, band, bucket, ``hash_col``, ``val``): its
    docs sharing (band, bucket, ``hash_col``) with another new doc or
    with the index ``old``.  The LSH (minhash) and the clustermap
    (simhash) indexes share it.

    ``max_bucket_docs`` caps a (band, ``hash_col``) population over new
    plus indexed docs, so hot buckets propose nothing (None disables —
    see the module docstring for the emission-time semantics)."""
    keys = ["band", "bucket", hash_col]
    a = new.select(F.col("doc_id").alias("doc_a"), *keys, F.col(val).alias("val_a"))
    if max_bucket_docs is not None:
        # Filtering the `a` side alone suffices: every candidate join
        # below takes its left leg from `a`, so a dropped bucket
        # proposes nothing.  `hot` is tiny (bucket keys over the cap)
        # — broadcast anti-join, no extra pass over the index beyond
        # the count.
        pop = new.select("doc_id", "band", hash_col)
        if old is not None:
            pop = pop.unionByName(old.select("doc_id", "band", hash_col))
        hot = (
            pop.groupBy("band", hash_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket_docs)
            .select("band", hash_col)
        )
        a = a.join(F.broadcast(hot), ["band", hash_col], "left_anti")

    def b_side(df: DataFrame) -> DataFrame:
        return df.select(F.col("doc_id").alias("doc_b"), *keys, F.col(val).alias("val_b"))

    cand = (
        a.join(b_side(new), keys)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "val_a", "val_b")
    )
    if old is not None:
        # new-vs-index: (band, bucket) in the join keys lines up with
        # the index partitioning so the scan prunes to the buckets
        # this batch touches; both orientations normalized to a < b.
        a_first = F.col("doc_a") < F.col("doc_b")
        cross = a.join(b_side(old), keys).select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.when(a_first, F.col("val_a")).otherwise(F.col("val_b")).alias("val_a"),
            F.when(a_first, F.col("val_b")).otherwise(F.col("val_a")).alias("val_b"),
        )
        cand = cand.unionByName(cross)
    return cand.dropDuplicates(["doc_a", "doc_b"])


def neardup_index_writer(
    index_path: str,
    pairs_path: str,
    text_col: str = "text",
    threshold: float = 0.0,
    max_bucket_docs: int | None = MAX_BUCKET_DOCS,
):
    """foreachBatch body: maintain the LSH index and emit near-dup
    candidate pairs (doc_a < doc_b, est_jaccard ≥ threshold) for each
    arriving batch of (doc_id, text) rows.

    ``max_bucket_docs``: degenerate-bucket cap over the combined
    new+indexed population (None disables — only for equivalence
    testing against the uncapped batch pipeline; see module docstring
    for the emission-time semantics).
    """

    index = _index(index_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        if index.begin(bid):
            return  # this batch's delta is already in the snapshot

        sigs = minhash_sig_array(batch_df, text_col)
        bands = lsh_bands(sigs)
        new = bands.join(sigs, "doc_id").select(
            "doc_id",
            "band",
            _bucket("band_hash").alias("bucket"),
            "band_hash",
            "sig",
        )

        old = index.read(spark, below=bid)

        cand = candidate_pairs(new, old, "band_hash", "sig", max_bucket_docs)
        pairs = cand.select("doc_a", "doc_b", _est_jaccard()).where(
            F.col("est_jaccard") >= threshold
        )
        VersionedStore(pairs_path).put(pairs, bid)
        index.publish(new, bid)

    return write


def read_neardup_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (union of committed batch outputs)."""
    return read_outputs(spark, pairs_path, "pairs")


def compact_index(spark: SparkSession, index_path: str) -> int:
    """Fold all committed index versions into one partitioned snapshot
    (a plain union); returns the surviving version id, -1 when empty."""
    _index(index_path).compact(spark, lambda df: df)
    return (versions(index_path) or [-1])[-1]
