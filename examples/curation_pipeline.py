"""End-to-end training-corpus curation over the documents table.

The complete pipeline a 100 TB pretraining-data run executes, composed
from this engine's operators — every stage is an oracle-checked
registry query or storage primitive, wired here in production order:

  1. quality gate      — repetition/quality thresholds (scan-side)
  2. boilerplate gate  — drop docs dominated by cross-document
                         templated 4-grams (document-frequency join)
  3. exact dedup       — one representative per identical text
  4. near-dup clusters — minhash → LSH → jaccard → connected
                         components; keep each cluster's min doc_id
  4b. containment purge — drop the shorter doc of any >= 80%
                         winnow-containment pair (excerpts/quotes
                         symmetric jaccard misses)
  5. decontamination   — drop train docs overlapping the eval split
  6. split + chunk     — deterministic hash split, fixed-window chunks
  7. compacted layout  — partitioned-by-split parquet, right-sized files
  8. token accounting  — train BPE on the surviving train split and
                         report the exact token budget per split

Run:  python examples/curation_pipeline.py [sf_dir]

Prints the per-stage survivor counts (the "curation funnel") and the
final chunk counts per split, then writes the corpus under a temp dir.
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark import get_spark
from flink_repartition_watermark_example_spark.functions import textfns as TX
from flink_repartition_watermark_example_spark.functions.hashing import md5_long
from flink_repartition_watermark_example_spark.operators import dedup as DD
from flink_repartition_watermark_example_spark.operators.graph import connected_components
from flink_repartition_watermark_example_spark.queries_pipeline import CONTAM_MIN_OVERLAP
from flink_repartition_watermark_example_spark.sources.tables import load_table


def main(sf_dir: str) -> dict:
    spark = get_spark(app_name="curation-pipeline")
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality gate: length + repetition thresholds, all scan-side.
    toks = TX.tokens("text")
    bg = TX.shingles(toks, 2)
    dup_ratio = F.when(F.size(bg) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bg)) / F.size(bg)
    )
    gated = docs.where((F.size(toks) >= 10) & (dup_ratio <= 0.5))
    n1 = gated.count()

    # 1b. boilerplate gate: a doc more than half of whose distinct
    # 4-grams are corpus-wide boilerplate (df >= 3) is template chrome.
    from flink_repartition_watermark_example_spark.queries_text import (
        _BOILER_MIN_DOCS,
        _boiler_shingles,
    )

    sh = _boiler_shingles(gated)
    boiler = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
    )
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    boiler_docs = (
        sh.join(boiler, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
        .join(per_doc, "doc_id")
        .where(F.col("n_boiler") * 2 > F.col("n_sh"))
        .select("doc_id")
    )
    gated = gated.join(boiler_docs, "doc_id", "left_anti")
    n1b = gated.count()

    # 2. exact dedup: min doc_id survives per identical text.
    survivors = gated.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    exact = gated.join(survivors.select("doc_id"), "doc_id", "left_semi")
    n2 = exact.count()

    # 3. near-dup clusters → keep cluster representative (min id).
    edges = DD.ngram_jaccard_pairs(exact, threshold=0.5).select("doc_a", "doc_b")
    cc = connected_components(
        exact.select(F.col("doc_id").alias("v")), edges, "v", "doc_a", "doc_b"
    )
    reps = cc.where(F.col("v") == F.col("component")).select(
        F.col("v").alias("doc_id")
    )
    neardup = exact.join(reps, "doc_id", "left_semi")
    n3 = neardup.count()

    # 3b. containment purge: a doc >= 80% contained (by shared
    # winnowed fingerprints) in another survivor is an excerpt /
    # quotation that symmetric jaccard missed; the SHORTER doc of
    # each pair is dropped.  The winnow build (fingerprints + capped
    # pair agg) is computed ONCE and shared — any other winnow
    # consumer (e.g. winnow_neardup_pairs) hangs off the same build
    # instead of re-running the window + self-join stages.
    wb = DD.winnow_build(neardup)
    cont = DD.winnow_containment_pairs(build=wb, min_containment=0.8)
    lens = neardup.select("doc_id", "n_chars")
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("len_b"))
    contained = (
        cont.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            F.when(F.col("len_a") <= F.col("len_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    # checkpoint between macro-stages: the dedup chain's lineage is
    # re-referenced by every following purge join (plan size would
    # otherwise grow multiplicatively — at 100 TB you'd land this on
    # durable storage; locally a localCheckpoint truncates the same
    # way)
    neardup = neardup.join(contained, "doc_id", "left_anti").localCheckpoint()
    n3b = neardup.count()

    # 3c. semantic dedup: embedding-space near-twins the lexical
    # stages cannot see (paraphrases).  Survivors' vectors are
    # clustered on the IVF coarse centroids and each >= 0.25-cosine
    # epsilon-ball keeps its min-id representative (SemDeDup,
    # arXiv:2303.09540).  Purge-based join so a doc WITHOUT an
    # embedding row passes through untouched (no evidence, no drop).
    from flink_repartition_watermark_example_spark.operators.similarity import (
        CENTROID_IDS,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.join(
        neardup.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    # the coarse centroids are corpus rows at fixed ids; earlier
    # stages may have purged some, so cluster on the SURVIVING subset
    # explicitly (semantic_dedup refuses silently-shrunk centroid
    # sets by design)
    live_cids = sorted(
        r["vec_id"]
        for r in cand.where(F.col("vec_id").isin(CENTROID_IDS))
        .select("vec_id")
        .collect()
    )
    if live_cids:
        sem_kept = semantic_dedup(cand, centroids=live_cids).select(
            F.col("vec_id").alias("doc_id")
        )
        sem_purged = cand.select(F.col("vec_id").alias("doc_id")).join(
            sem_kept, "doc_id", "left_anti"
        )
        neardup = neardup.join(sem_purged, "doc_id", "left_anti").localCheckpoint()
    n3c = neardup.count()

    # 4. split assignment + decontamination of train against test.
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    with_split = neardup.withColumn("split", split).withColumn(
        "s", F.array_distinct(TX.shingles(TX.tokens("text"), 3))
    )
    test_g = (
        with_split.where(F.col("split") == "test")
        .select(F.explode_outer("s").alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )
    contaminated = (
        with_split.where(F.col("split") == "train")
        .select("doc_id", F.explode_outer("s").alias("g"))
        .where(F.col("g").isNotNull())
        .join(F.broadcast(test_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= CONTAM_MIN_OVERLAP)
        .select("doc_id")
    )
    clean = with_split.join(contaminated, "doc_id", "left_anti").drop("s")
    n4 = clean.count()

    # 5. chunk into fixed windows; 6. write partitioned by split.
    chunks = clean.select(
        "doc_id",
        "split",
        F.posexplode_outer(TX.chunk_texts(TX.tokens("text"))).alias(
            "chunk_id", "chunk_text"
        ),
    ).where(F.col("chunk_text").isNotNull())
    out = tempfile.mkdtemp(prefix="curated_corpus_")
    chunks.repartition("split").write.partitionBy("split").mode(
        "overwrite"
    ).parquet(out)

    per_split = {
        r["split"]: r["n"]
        for r in spark.read.parquet(out).groupBy("split").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # 8. token accounting: train the tokenizer on the curated TRAIN
    # split only (no eval leakage into the vocab), then price every
    # split in exact BPE tokens — the number the training run budgets.
    from flink_repartition_watermark_example_spark.queries_text import (
        _bpe_train,
        _bpe_word_freq,
    )

    train_docs = clean.where(F.col("split") == "train")
    merges = _bpe_train(train_docs)
    s = F.concat(F.lit("  "), F.array_join(F.split("word", ""), "  "), F.lit("  "))
    for _, pair, _ in merges:
        s = F.replace(
            s,
            F.lit(" " + pair.replace(" ", "  ") + " "),
            F.lit(" " + pair.replace(" ", "") + " "),
        )
    enc = _bpe_word_freq(clean).select(
        "word", F.size(F.split(F.trim(s), "  ")).alias("n_tok")
    )
    tokens_by_split = {
        r["split"]: r["n_tokens"]
        for r in (
            clean.select(
                "split",
                F.explode(
                    F.regexp_extract_all(
                        F.lower(F.col("text")), F.lit("[a-z]+"), 0
                    )
                ).alias("word"),
            )
            .join(F.broadcast(enc), "word")
            .groupBy("split")
            .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
            .collect()
        )
    }

    # 8b. mix planning over the curated train split: per-source token
    # budgets and the 3x-capped uniform-target sampling weight (the
    # training_mix_weights discipline — exact integers until one
    # double division per row).
    from pyspark.sql.window import Window

    per_src = (
        train_docs.select("source", F.size(TX.tokens("text")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("src_tokens"))
    )
    w_all = Window.partitionBy()
    mix_weights = {
        r["source"]: round(r["w"], 3)
        for r in per_src.select(
            "source",
            F.least(
                F.lit(3.0),
                F.sum("src_tokens").over(w_all).cast("double")
                / (F.count(F.lit(1)).over(w_all) * F.col("src_tokens")),
            ).alias("w"),
        ).collect()
    }

    print(f"funnel: raw={n0} quality={n1} boilerplate={n1b} "
          f"exact_dedup={n2} neardup={n3} containment={n3b} "
          f"semantic={n3c} decontaminated={n4}")
    print(f"mix weights (train, uniform target, cap 3x): {mix_weights}")
    print(f"chunks per split: {per_split}  → {out}")
    print(f"BPE tokens per split (vocab trained on train only): "
          f"{tokens_by_split}")
    assert n0 >= n1 >= n1b >= n2 >= n3 >= n3b >= n3c >= n4 > 0
    assert mix_weights and max(mix_weights.values()) <= 3.0
    assert set(per_split) <= {"train", "val", "test"}
    assert tokens_by_split.get("train", 0) > 0
    return {
        "funnel": {
            "raw": n0,
            "quality": n1,
            "boilerplate": n1b,
            "exact_dedup": n2,
            "neardup": n3,
            "containment": n3b,
            "semantic": n3c,
            "decontaminated": n4,
        },
        "mix_weights": mix_weights,
        "chunks_per_split": per_split,
        "tokens_by_split": tokens_by_split,
        "out_dir": out,
    }


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
