"""Incremental span-level exact dedup over a document stream — the
continuous counterpart of the batch ``span_dedup_stats`` /
``span_dedup_docs`` pair (queries_pipeline.py), completing the
streaming story for every dedup grain the engine ships: document
(streaming/dedup.py), near-dup (streaming/neardup.py), semantic
(streaming/semdedup.py), and now sub-document span.

Per micro-batch (foreachBatch, the versioned-directory device shared
with the CDC MERGE sink and the other streaming indexes):

1. the batch's documents are cut into disjoint SPAN_SIZE-token
   segments keyed by md5 — the SAME pure scan-side projection as the
   batch operator (queries_pipeline.span_segments), so stream and
   batch can never disagree on segmentation;
2. a segment is KEPT when its seg_key has never been seen — not in
   the persisted index (equi-join on (bucket, seg_key)) and not
   earlier in this batch (rank-1 by (doc_id, chunk_id) per seg_key);
3. each arriving doc is re-emitted as its deduplicated rewrite
   (kept segments re-joined in original order — exactly the
   span_dedup_docs contract; a doc whose every segment was already
   seen disappears), and the batch's FRESH seg_keys merge into the
   index.

Algebra: the index is a plain union of per-batch deltas of FRESH
keys (each key enters exactly once), written ``partitionBy("bucket")``;
a batch writes its docs output before its index delta.  Exactly-once
under crash replay, staging, empty batches and compaction are the
versioned-store protocol of streaming/vstore.py; the docs output is
one whole version per batch (``VersionedStore.put``), so a replayed
batch replaces its own.

Scale shape: the index is partitioned by ``bucket = crc32(seg_key)
mod SPAN_INDEX_BUCKETS`` and the new-vs-index anti-join carries
bucket in its keys, so the lookup prunes to the partitions the new
segments hash into; per-batch cost is O(new segments ×
touched-bucket sizes), independent of corpus age.  seg_key itself is
near-unique (a 128-bit md5) — one directory per key would be a
small-files explosion, so the mod-bucket is the partition key, the
exact device of streaming/neardup.py's INDEX_BUCKETS.  State is the
parquet index — disk-bounded, restart-safe — never executor memory.

Equivalence contract (tested): streaming the corpus in
doc_id-ordered splits yields exactly the batch ``span_dedup_docs``
rewrite over the full corpus, because the batch rule keeps the
minimal (doc_id, chunk_id) occurrence per seg_key and ordered
arrival indexes precisely the lower-id occurrences first.  With
UNORDERED splits the rule is emission-time (the shared discipline of
every streaming index here): a segment emitted as kept is not
retroactively withdrawn when a lower-id twin arrives later; the late
twin is dropped instead.  A batch re-run over the final corpus
reconciles when exact batch semantics are required.

Reference anchor: Main.scala:24-25 keyed-state discipline — per-key
work stays bounded per key; here the "key" is the segment hash and
each key enters the index exactly once, so the index grows with the
DISTINCT span count, not the corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.streaming.vstore import (
    VersionedStore,
    read_outputs,
    versions,
)

# Partition fanout per index version — coarse enough to avoid a
# small-files problem, fine enough that a batch touching few buckets
# prunes most of the index at the anti-join.
SPAN_INDEX_BUCKETS = 64


def _bucket(col: str) -> Column:
    return F.pmod(F.crc32(F.col(col)), F.lit(SPAN_INDEX_BUCKETS)).cast("int")


def _index(index_path: str) -> VersionedStore:
    return VersionedStore(index_path, ("bucket",))


def spandedup_index_writer(index_path: str, docs_path: str):
    """foreachBatch body: maintain the seg_key index and emit each
    arriving batch's span-deduplicated document rewrites
    (doc_id, dedup_text, n_kept_segs — the span_dedup_docs schema).
    """
    from pyspark.sql.window import Window

    from flink_repartition_watermark_example_spark.queries_pipeline import (
        reassemble_spans,
        span_segments,
    )

    index = _index(index_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        if index.begin(bid):
            return  # this batch's keys are already in the snapshot

        segs = span_segments(batch_df).withColumn(
            "bucket", _bucket("seg_key")
        )
        w = Window.partitionBy("seg_key").orderBy("doc_id", "chunk_id")
        firsts = segs.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") == 1
        )
        old = index.read(spark, below=bid)
        if old is not None:
            # (bucket, seg_key) in the join keys lines up with the
            # index partitioning so the scan prunes to the buckets
            # this batch touches.
            firsts = firsts.join(
                old.select("bucket", "seg_key"),
                ["bucket", "seg_key"],
                "left_anti",
            )
        # `firsts` feeds two writes (docs output, index delta) —
        # persist so the window + anti-join run once.
        kept = firsts.select(
            "bucket", "seg_key", "doc_id", "chunk_id", "chunk_text"
        ).persist()
        try:
            # docs publish FIRST (see module docstring) — an empty
            # rewrite (every span already seen, or an empty batch)
            # still writes a readable empty parquet, unlike the
            # partitioned index, whose empty delta is never published.
            VersionedStore(docs_path).put(reassemble_spans(kept), bid)
            index.publish(kept.select("bucket", "seg_key", "doc_id", "chunk_id"), bid)
        finally:
            kept.unpersist()

    return write


def read_spandedup_docs(spark: SparkSession, docs_path: str) -> DataFrame:
    """All document rewrites emitted so far (union of committed batch
    outputs) — one row per surviving doc, the span_dedup_docs schema."""
    return read_outputs(spark, docs_path, "docs")


def compact_index(spark: SparkSession, index_path: str) -> int:
    """Fold all committed index versions into one partitioned snapshot
    (keys enter exactly once, so the fold is a plain union); returns
    the surviving version id, -1 when empty."""
    _index(index_path).compact(spark, lambda df: df)
    return (versions(index_path) or [-1])[-1]
