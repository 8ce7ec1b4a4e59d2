"""End-to-end STREAMING corpus curation — the reference experiment's
stream==batch contract (README.md:49-58: the same computation must
produce the same result run as a stream or as a batch) applied to the
whole north-star surface instead of one windowed count.

Two live legs over the driver testdata, wired from the engine's
streaming primitives:

  docs leg    file-stream of document batches
              → quality gate (scan-side, same predicate as the batch
                curation pipeline)
              → incremental LSH near-dup index maintenance
                (streaming/neardup.py): each batch's docs are checked
                against everything seen so far via the persisted
                banded index — no corpus rescan
              → CDC MERGE sink (sinks.cdc_merge_writer): every batch
                upserts its gated docs and deletes the higher-id side
                of each newly discovered near-dup pair, materializing
                a versioned, time-travelable curated snapshot

  events leg  file-stream of events (event-time ordered, close
              sentinels last)
              → custom stateful sessionizer
                (streaming/stateful.sessionize,
                applyInPandasWithState) → parquet sink

Equivalence contract (tests/test_streaming_pipeline.py): after the
streams drain, (1) the curated snapshot equals the batch pipeline's
purge — quality gate + drop doc_b of every LSH candidate pair with
est_jaccard ≥ 0.5 — computed in one batch job over the full corpus;
(2) the sessions output equals the built-in session_window batch
aggregation.  Both equalities are exact (minhash signatures are
per-doc and deterministic; bucket membership is order-independent), so
ANY batch split of the corpus converges to the same snapshot.

Exactly-once: every per-batch artifact (index delta, pairs delta,
snapshot version) is keyed by batch id and overwrites itself on crash
replay; the CDC base read always resolves versions strictly below the
current batch id (see sinks.cdc_merge_writer).

Run:  python examples/streaming_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.functions import textfns as TX
from flink_repartition_watermark_example_spark.sinks import (
    cdc_merge_writer,
    read_cdc_snapshot,
)
from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.streaming.neardup import (
    neardup_index_writer,
)
from flink_repartition_watermark_example_spark.streaming.replica import (
    write_close_sentinel,
)
from flink_repartition_watermark_example_spark.streaming.stateful import sessionize

# The near-dup purge threshold on the minhash agreement estimate.
NEARDUP_THRESHOLD = 0.5


def quality_gate(docs: DataFrame) -> DataFrame:
    """Scan-side quality gate, identical to the batch curation
    pipeline's stage 1 (examples/curation_pipeline.py): ≥10 tokens and
    ≤50% repeated bigrams."""
    toks = TX.tokens("text")
    bg = TX.shingles(toks, 2)
    dup_ratio = F.when(F.size(bg) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bg)) / F.size(bg)
    )
    return docs.where((F.size(toks) >= 10) & (dup_ratio <= 0.5))


def curation_batch_fn(index_path: str, pairs_path: str, snapshot_path: str):
    """foreachBatch body composing the three streaming primitives.

    Per batch N (all idempotent under crash replay of N):
      1. gate the arriving docs;
      2. maintain the LSH index — writes pairs_path/vN with the pairs
         newly discoverable at N (new-vs-index ∪ new-vs-new);
      3. CDC-merge into the snapshot: upsert every gated doc
         (seq 2N), delete the higher-id side of each new ≥threshold
         pair (seq 2N+1 — deletes outrank same-batch upserts, so a
         doc that arrives already-duplicate never survives its own
         batch).

    The cap is disabled (max_bucket_docs=None) because the contract
    here is exact equality with the uncapped batch purge; a production
    deployment would keep the default cap on both sides instead.
    """
    idx_writer = neardup_index_writer(
        index_path, pairs_path, max_bucket_docs=None
    )
    merge = cdc_merge_writer(snapshot_path, ["doc_id"])

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        gated = quality_gate(batch_df)
        idx_writer(gated.select("doc_id", "text"), bid)

        new_pairs = spark.read.parquet(os.path.join(pairs_path, f"v{bid}"))
        doomed = (
            new_pairs.where(F.col("est_jaccard") >= NEARDUP_THRESHOLD)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        payload = gated.select("doc_id", "source", "text")
        changes = payload.select(
            "*",
            F.lit("U").alias("op"),
            F.lit(2 * bid).cast("long").alias("seq"),
        ).unionByName(
            doomed.select(
                "doc_id",
                F.lit(None).cast("string").alias("source"),
                F.lit(None).cast("string").alias("text"),
                F.lit("D").alias("op"),
                F.lit(2 * bid + 1).cast("long").alias("seq"),
            )
        )
        merge(changes, bid)

    return write


def batch_purged_docs(docs: DataFrame) -> DataFrame:
    """The batch twin of the streaming curation: quality gate, then
    drop the higher-id side of every LSH candidate pair at
    est_jaccard ≥ threshold over the gated corpus (uncapped, matching
    the stream's contract).  Any batch split of the stream must
    converge to exactly this set."""
    from flink_repartition_watermark_example_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    gated = quality_gate(docs)
    doomed = (
        lsh_candidate_pairs(gated, max_bucket_docs=10**9)
        .where(F.col("est_jaccard") >= NEARDUP_THRESHOLD)
        .select("doc_b")
        .distinct()
    )
    return gated.join(
        doomed, gated.doc_id == doomed.doc_b, "left_anti"
    ).select("doc_id", "source", "text")


def run_streaming_curation(
    spark: SparkSession, sf_dir: str, workdir: str, n_batches: int = 3
) -> dict[str, str]:
    """Drive both legs to completion over the sf_dir testdata; returns
    the artifact paths (index, pairs, snapshot, sessions)."""
    paths = {
        k: os.path.join(workdir, k)
        for k in ("docs_src", "index", "pairs", "snapshot",
                  "events_src", "sessions", "ckpt_docs", "ckpt_events")
    }

    # --- docs leg -----------------------------------------------------
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    for i in range(n_batches):  # arrival batches, split by doc_id
        docs.where(F.col("doc_id") % n_batches == i).coalesce(1).write.mode(
            "append"
        ).parquet(paths["docs_src"])

    q_docs = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(paths["docs_src"])
        .writeStream.outputMode("append")
        .foreachBatch(
            curation_batch_fn(paths["index"], paths["pairs"], paths["snapshot"])
        )
        .option("checkpointLocation", paths["ckpt_docs"])
        .trigger(availableNow=True)
        .start()
    )

    # --- events leg ---------------------------------------------------
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    ev.orderBy("ts").coalesce(1).write.parquet(paths["events_src"])
    # close sentinels: the first advances the watermark past every open
    # session's horizon, the second drives the timeout-firing batch
    ev_schema = write_close_sentinel(spark, paths["events_src"])

    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(paths["events_src"])
    )
    sessions = sessionize(stream, gap="30 minutes")
    q_ev = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", paths["sessions"])
        .option("checkpointLocation", paths["ckpt_events"])
        .trigger(availableNow=True)
        .start()
    )

    q_docs.awaitTermination()
    q_ev.awaitTermination()
    return paths


def main() -> None:
    from flink_repartition_watermark_example_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="streaming-curation")
    with tempfile.TemporaryDirectory() as workdir:
        paths = run_streaming_curation(spark, sf_dir, workdir)
        docs = load_table(spark, sf_dir, "documents")
        snap = read_cdc_snapshot(spark, paths["snapshot"])
        sessions = spark.read.parquet(paths["sessions"])
        print(f"arrived docs:        {docs.count()}")
        print(f"gated (batch twin):  {quality_gate(docs).count()}")
        print(f"curated snapshot:    {snap.count()}")
        batch = batch_purged_docs(docs)
        same = snap.select("doc_id").subtract(batch.select("doc_id")).count() == 0 and \
            batch.select("doc_id").subtract(snap.select("doc_id")).count() == 0
        print(f"stream == batch:     {same}")
        print(f"sessions emitted:    {sessions.count()}")


if __name__ == "__main__":
    main()
