"""Incremental SemDeDup index (streaming/semdedup.py): streaming the
corpus in vec_id-ordered splits must yield exactly the batch
semantic_dedup survivors; crash-replayed batches must be idempotent;
compaction must be lossless and collision-safe against resumed
streams."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators.similarity import CENTROID_IDS, semantic_dedup
from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.streaming.semdedup import (
    compact_index,
    read_semdedup_survivors,
    semdedup_index_writer,
)

pytestmark = pytest.mark.slow  # streaming replays: minute-class


def _centroids(emb):
    rows = emb.where(F.col("vec_id").isin(CENTROID_IDS)).select(
        "vec_id", "embedding"
    ).collect()
    return sorted((r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows)


def _survivor_set(df):
    return {(r["vec_id"], r["list_id"]) for r in df.collect()}


def test_streamed_ordered_splits_equal_batch_survivors(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    cuts = [n // 3, 2 * n // 3]

    src = str(tmp_path / "emb_stream")
    # three id-ordered arrival batches (files written in id order so
    # the mtime-ordered file stream replays them in order)
    for cond in [
        F.col("vec_id") < cuts[0],
        (F.col("vec_id") >= cuts[0]) & (F.col("vec_id") < cuts[1]),
        F.col("vec_id") >= cuts[1],
    ]:
        emb.where(cond).coalesce(1).write.mode("append").parquet(src)

    index = str(tmp_path / "index")
    surv = str(tmp_path / "surv")
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(semdedup_index_writer(index, surv, _centroids(emb)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _survivor_set(read_semdedup_survivors(spark, surv))
    want = _survivor_set(semantic_dedup(emb))
    assert got == want
    assert 0 < len(got) < n  # the purge genuinely acts


def test_replayed_batch_is_idempotent_and_compaction_lossless(
    spark, sf_dir, tmp_path
):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    first = emb.where(F.col("vec_id") < n // 2)
    second = emb.where(F.col("vec_id") >= n // 2)

    index = str(tmp_path / "index")
    surv = str(tmp_path / "surv")
    w = semdedup_index_writer(index, surv, _centroids(emb))
    w(first, 0)
    w(second, 1)
    once = _survivor_set(read_semdedup_survivors(spark, surv))

    w(second, 1)  # crash replay of batch 1 overwrites itself
    assert _survivor_set(read_semdedup_survivors(spark, surv)) == once
    assert once == _survivor_set(semantic_dedup(emb))

    # compaction folds the index to one version and a RESUMED stream
    # (next batch_id == 2 > surviving version id) sees the same state:
    # re-sending batch 1's data as batch 2 must purge every vector
    # that already survived (all are self-duplicates at cos = 1).
    kept = compact_index(spark, index)
    assert kept == 1
    assert set(os.listdir(index)) >= {"v1"}
    w(second, 2)
    after = _survivor_set(read_semdedup_survivors(spark, surv))
    # batch 2 contributed nothing new: every vector has an identical
    # lower-or-equal-id twin... itself is NOT lower-id, but any vector
    # that survived in batch 1 is still indexed, and cos(v, v) = 1 for
    # the pair (old copy, new copy) shares vec_id so the strict < rule
    # skips it — instead assert survivors are unchanged except for
    # possible re-emission of the same (vec_id, list_id) rows, which
    # the set union absorbs.
    assert after == once


def test_replay_of_last_precompaction_batch_is_skipped(spark, sf_dir, tmp_path):
    """Compaction reuses v{max}; a crash-replay of that same batch id
    must skip its writes (the _COMPACTED marker) — overwriting would
    silently drop every earlier vector from the index."""
    from flink_repartition_watermark_example_spark.streaming.semdedup import compact_index

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    first = emb.where(F.col("vec_id") < n // 2)
    second = emb.where(F.col("vec_id") >= n // 2)

    index = str(tmp_path / "index")
    surv = str(tmp_path / "surv")
    w = semdedup_index_writer(index, surv, _centroids(emb))
    w(first, 0)
    w(second, 1)
    once = _survivor_set(read_semdedup_survivors(spark, surv))

    assert compact_index(spark, index) == 1
    w(second, 1)  # crash replay of the last pre-compaction batch
    assert _survivor_set(read_semdedup_survivors(spark, surv)) == once
    assert once == _survivor_set(semantic_dedup(emb))


def test_empty_micro_batch_is_a_safe_noop(spark, sf_dir, tmp_path):
    """An empty micro-batch (idle source tick, or a split filter that
    matched nothing — scaled dirs have SPARSE vec_ids, so id-arithmetic
    splits can be empty) must be a no-op: the partitionBy staging write
    of an empty batch has no data files, and the un-guarded re-read
    died on UNABLE_TO_INFER_SCHEMA in a crash loop (every replay of
    the batch is empty again).  Survivors must equal the batch
    operator's as if the empty batch never happened."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()

    src = str(tmp_path / "emb_stream")
    # batch 1: first half; batch 2: EMPTY (impossible filter); batch 3:
    # second half — written sequentially so mtime order replays them
    # as three triggers, the middle one empty.
    emb.where(F.col("vec_id") < n // 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    emb.where(F.lit(False)).coalesce(1).write.mode("append").parquet(src)
    emb.where(F.col("vec_id") >= n // 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    index = str(tmp_path / "index")
    surv = str(tmp_path / "surv")
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(semdedup_index_writer(index, surv, _centroids(emb)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _survivor_set(read_semdedup_survivors(spark, surv))
    want = _survivor_set(semantic_dedup(emb))
    assert got == want


def test_streamed_splits_equal_batch_at_scaled_centroids(
    spark, sf_dir, tmp_path
):
    """The gate's PRODUCTION configuration (scaled_centroid_ids, the
    semantic_dedup_scaled query) must also hold the stream==batch
    contract: replaying id-ordered splits through the incremental
    index with the corpus-scaled centroid set reproduces the batch
    survivors exactly.  (The other tests prove the contract at the
    fixed CENTROID_IDS config; after the round-9 gate rotation the
    scaled set is the one the driver checks.)"""
    from flink_repartition_watermark_example_spark.operators.similarity import scaled_centroid_ids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    cids = scaled_centroid_ids(emb)
    cents = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(cids)).collect()
    )

    src = str(tmp_path / "emb_stream")
    cuts = [n // 3, 2 * n // 3]
    for cond in [
        F.col("vec_id") < cuts[0],
        (F.col("vec_id") >= cuts[0]) & (F.col("vec_id") < cuts[1]),
        F.col("vec_id") >= cuts[1],
    ]:
        emb.where(cond).coalesce(1).write.mode("append").parquet(src)

    index = str(tmp_path / "index")
    surv = str(tmp_path / "surv")
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(semdedup_index_writer(index, surv, cents))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _survivor_set(read_semdedup_survivors(spark, surv))
    want = _survivor_set(semantic_dedup(emb, centroid_ids=cids))
    assert got == want
    assert 0 < len(got) < n
