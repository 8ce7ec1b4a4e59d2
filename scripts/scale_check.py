"""Scale-up validation: run the most expensive queries at sf0.1 AND at
the generated sf1 (10×), record wall-times, growth ratios, and
physical-plan shapes, and write BENCH_sf1.json at the repo root.

What "passes" means (VERDICT round-2 action #1):
- time(sf1)/time(sf0.1) stays well under ~20× for every checked query
  (10× data with fixed overheads should land near-linear; 20× is the
  alarm threshold for super-linear blowup — an accidental quadratic
  candidate join would show 100×),
- no plan-shape flip that breaks a scale claim: a broadcast join that
  silently becomes a sort-merge join at 10× means the "small side"
  wasn't actually bounded (AQE may legitimately flip the other way).

Plan shapes are captured as node-type histograms of the formatted
explain output so diffs are mechanical.  tests/test_scale_artifact.py
asserts over the written artifact.  Each (query, scale) is timed
SPARK_GRAFT_SCALE_REPS times (default 2) with full cache/GC isolation
between reps and the MIN recorded — box noise and first-touch warmup
are strictly one-sided, and a single-shot ratio once read 8.3× where
the steady state was 2.8×.

Usage: python scripts/scale_check.py [--sf1 .scaledata/sf1]
       [--baseline /root/testdata/sf0.1] [--queries q1,q2,...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_repartition_watermark_example_spark import get_spark
from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

# The 10 most expensive sf0.1 queries (BENCH_r02) plus the ANN
# searches, spanning every heavy family: ANN (IVF and PQ), the
# minhash/LSH dedup chain, streaming, multimodal, and the scan-heavy
# TPC-H-style aggregations/joins.
DEFAULT_QUERIES = [
    "ivf_ann_topk",
    "streaming_windowed_count",
    "streaming_interval_join",
    "lsh_candidate_pairs",
    "neardup_purged_docs",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "simhash_neardup_pairs",
    "multimodal_fake_decode",
    "pricing_summary",
    "windowed_count",
    "multi_join_revenue",
    "minhash_signatures",
    "pq_adc_topk",
    # iterative driver-loop operators: cost tracks |vocab| (BPE) and
    # corpus×K (k-means), not raw corpus bytes — the artifact records
    # that their growth stays bounded too
    "bpe_merges",
    "kmeans_centroids",
    # both found quadratic/serial at sf1 by the full sweep and fixed:
    # entropy-window blocking + cap; exploded agg + fan_out
    "fuzzy_name_pairs",
    "repetition_signals",
    # hashing-family scale lever: 8-plane variant of the 16-bucket
    # primary (bucket count must grow with the corpus)
    "embedding_neardup_pairs_8p",
    # iterative connected components over the LSH candidate graph
    "neardup_clusters",
    # round-5 additions: tokenizer apply (vocab-sized encode +
    # broadcast-back), cross-doc boilerplate (inventory + corpus
    # join), two-level sketch rollup, explicit skew-join salting
    "bpe_encode_token_counts",
    "boilerplate_ngrams",
    "boilerplate_flagged_docs",
    "hll_daily_rollup_users",
    "salted_join_above_type_avg",
    # winnowing: positional fingerprints (window functions over the
    # doc_id shuffle) + shared-fingerprint equi-join pairs + the
    # asymmetric containment variant
    "winnow_fingerprints",
    "winnow_neardup_pairs",
    "winnow_containment_pairs",
    # corpus-trained bigram-LM quality scoring (two map-side-combined
    # aggs + an AQE-decided score join)
    "lm_quality_scores",
    # round-6 additions: the real media codecs (scan-shaped Arrow
    # decode stages — ratios should track bytes), and the heavy
    # decorrelation shapes (Q21's chained same-key aggregations,
    # Q4's semi join, Q18's agg-below-join, Q13's count-of-counts)
    "image_decode_stats",
    "audio_decode_stats",
    "video_frame_stats",
    "waiting_suppliers",
    "order_priority_late_exists",
    "large_volume_customers",
    "customer_order_distribution",
    # late round-6: the two widest join trees (Q8's dual-arm tree,
    # Q7's bilateral nation pairs), the Q17 per-part aggregate join,
    # and SemDeDup's within-cluster pair scoring (quadratic inside a
    # cluster — the ratio verifies the centroid-count lever holds)
    "nation_market_share",
    "volume_shipping",
    "small_qty_revenue_share",
    # semantic_dedup_survivors (fixed k=16) was swept here through
    # round 9; FENCED OUT in round 10 (VERDICT r9 #4): quadratic
    # within clusters by construction, its 90× sf1→sf10 row made the
    # artifact max_ratio read a plan nobody would run at scale.  It
    # stays registered + oracled + benched at sf0.1 as the documented
    # dead-end; the production config semantic_dedup_scaled below is
    # the swept one.  Historical rows preserved under "fenced_out" in
    # the artifacts.
    # Q10's pre-aggregated customer join and Q12's fact-fact
    # conditional counts
    "returned_item_revenue",
    "late_line_priority_counts",
    # round-7: the bucketed fact-layout twins of the two widest join
    # trees — the artifact carries the layout win head-to-head with
    # the plain plans (VERDICT r6 #2) — and the incremental streaming
    # CMS index, whose stream==batch FULL-ROW equality is recorded in
    # stream_batch_rows at both scales (VERDICT r6 #7)
    "nation_market_share_bucketed",
    "volume_shipping_bucketed",
    "streaming_cms_heavy_hitters",
    # round-8: the sharded sequence-packing window (hash-partitioned
    # WindowExec — the last single-task plan, now sharded by source)
    # and the Q19 disjunction rewrite (broadcast-side residue
    # pushdown), previously without scale evidence
    "pack_chunks_into_sequences",
    "disjunctive_brand_revenue",
    # round-9: SemDeDup at the production configuration — centroid
    # count scales with the corpus (k = max(16, n//500)), so unlike
    # semantic_dedup_survivors (the fixed-k=16 QUADRATIC_FAMILY
    # entry) this one must satisfy the NORMAL near-linear ratio bound
    "semantic_dedup_scaled",
    # round-9 additions: pow-2 length-bucket padding stats (pure
    # map-side-combine agg), the deterministic epoch-shuffle
    # sharder (hash exchange + per-shard window), and the two-level
    # SemDeDup router (O(n*sqrt(k)) assignment — should track or beat
    # semantic_dedup_scaled's ratio as k grows)
    "length_bucket_padding_stats",
    "shuffle_shard_stats",
    "semantic_dedup_hier",
    # round-9 corpus-analysis pair: Zipfian-vocab distinct agg and the
    # cross-source duplicate-fingerprint matrix (near-unique-key
    # self-join, output bounded by duplicate mass x S^2)
    "vocab_growth_by_source",
    "source_overlap_matrix",
    # round-9: per-source token-quota selection (hash-priority prefix
    # under a fixed budget — per-source cumsum window on narrow rows)
    "token_quota_selection",
    # round-9 time-series pair: zero-filled hourly grid (agg-first,
    # corpus scanned once) and segmented-carry LOCF (within-day
    # windows + an O(days) carry window — the distributed form whose
    # oracle is the single-window textbook LOCF)
    "gapfill_hourly_counts",
    "locf_filled_values",
    # round-9 product-analytics pair: ordered-sequence funnel (all
    # stages keyed user_id) and the cohort retention triangle
    # (distinct-first, partial aggs collapse per-user weeks)
    "funnel_conversion_cohorts",
    "weekly_retention_cohorts",
    # round-9 corpus-statistics pair: cascaded count-of-counts aggs
    # (dup-cluster histogram, Good-Turing frequency spectrum)
    "dup_cluster_size_histogram",
    # round-9 second session: the TPC-H completion set (the four
    # partsupp-derived decorrelations plus the Q9 profit tree and its
    # bucketed twin), span-dedup rewrite pass, and the analytics
    # family (rational TF-IDF/lift, integer-moment anomaly, embedding
    # drift, triangle counting, path trigrams) — all already
    # three-decade-swept this round; keeping them in the default list
    # makes future rounds re-check them automatically
    "span_dedup_docs",
    "min_cost_regional_supplier",
    "product_type_profit",
    "product_type_profit_bucketed",
    "important_part_values",
    "supplier_part_relationship",
    "potential_promotion_suppliers",
    "tfidf_top_terms",
    "bigram_lift",
    "rolling_anomaly_hours",
    "embedding_dim_stats",
    "neardup_triangles",
    "top_event_paths",
    "token_frequency_spectrum",
    # round-10 additions (merge-swept at sf1/sf10 in round 10, at
    # sf100 in round 11) — in the default list so future full sweeps
    # re-check them automatically.
    "hard_negative_mining",
    "semantic_cluster_sizes",
    "embedding_int8_quant_stats",
    "dedup_audit_sample",
    "streaming_int8_scales",
    "split_leakage_audit",
    # round-11 additions: cluster-based splits + the production-nprobe
    # recall point
    "split_by_cluster",
    "split_leakage_audit_clustered",
    "ann_recall_ivf_production",
    "split_by_cluster_balanced",
    # router-assignment histogram: the sf100-regime monitoring plan
    # (n^1.5 modeled family, like semantic_dedup_hier)
    "semantic_cluster_sizes_routed",
    # round-12: multi-edge-family clustering (cross-family diagnostic,
    # union-edge CC split, all-family audit)
    "split_leakage_cross_family",
    "split_by_cluster_multi",
    "split_leakage_audit_multi",
    # round-12: trained-quantizer production recall, the capped
    # (oracle-exact emission-time cap) cluster-map replay, the
    # one-pass integer-Gram linear-algebra family, and the per-source
    # token-distribution drift table
    "ann_recall_ivf_trained_production",
    "streaming_cluster_map_capped",
    "embedding_covariance_topk",
    "embedding_pca_variance",
    "embedding_pca_project_stats",
    "source_token_divergence",
    # round-12: the data-quality family (constraint report, one-pass
    # column profile, key-skew diagnostics) — each one aggregation
    # pass per table, O(report)-row results
    "dq_constraint_report",
    "table_profile",
    "key_skew_report",
    "streaming_dq_monitor",
    "ivf_diverse_topk",
]

# Per-query SF fences (ADVICE r11): a query whose plan is out of
# regime past a decade is SKIPPED — with a fenced_out row emitted into
# the artifact — whenever the sweep's big-side dir is at or beyond its
# fence.  This encodes the fencing decisions IN CODE: a plain default
# sweep can no longer re-plan a documented regime-wall shape because
# the operator didn't read a comment (the round-11 failure mode that
# cost a 40-min killed leg).  Keyed by registered name; value =
# (lowest fenced sf number, reason recorded in the artifact).
# Entry: (lo_sf, reason) — fenced from lo_sf upward — or
# (lo_sf, hi_sf, reason) — fenced for lo_sf <= sf < hi_sf only (a
# DECADE-RANGE fence, r13: a registered query that auto-tiers on a
# budget can be out of its timed regime in one decade and back in
# regime in the next, when the dispatch picks a different tier there).
SF_FENCES: dict[str, tuple] = {
    "semantic_cluster_sizes": (
        100,
        "exact flat O(n*k) assignment: measured 165x on 10x data at "
        "sf100 (round-10 post-mortem preserved in this artifact's "
        "fenced_out); the in-regime monitoring plan at that decade is "
        "semantic_cluster_sizes_routed (4.1x, 51x cheaper)",
    ),
    "semantic_dedup_survivors": (
        10,
        "fixed-k=16 SemDeDup teaching variant, quadratic within "
        "clusters by construction: measured 90x on 10x data at sf10 "
        "(historical rows under fenced_out in BENCH_sf1/sf10); the "
        "production config is semantic_dedup_scaled",
    ),
    "embedding_neardup_pairs_8p": (
        10,
        "fixed 8-plane (256-bucket) configuration of the hashing "
        "family: within-bucket pairing is quadratic in bucket size, "
        "so the PLANE COUNT is the corpus-size lever (the registered "
        "doc says ~20+ planes at 100 TB).  Measured 49.5x on 10x data "
        "at sf10 (1.43 -> 70.9 s, r12 re-sweep) — the sf1 decade "
        "(1.82-2.5x) is this configuration's regime; past it a user "
        "runs more planes (same operator, same oracle construction, "
        "different constant)",
    ),
    "streaming_cluster_map": (
        10,
        "the REGISTERED replay runs UNCAPPED by contract (exact "
        "stream==batch oracle equality requires max_bucket_docs=None "
        "on both sides), and the degenerate zero-simhash bucket makes "
        "uncapped pair generation quadratic: ~2e8 pairs at sf1 "
        "(swept: 128.5 s, 2.5x), ~2e10 at sf10 — out of regime.  The "
        "PRODUCTION writer runs with the cap (cluster_map_writer "
        "default) and shares the swept streaming-index join geometry; "
        "the uncapped form exists to pin equality at oracle SFs",
    ),
}


def fence_bounds(fence: tuple) -> tuple[float, float, str]:
    """(lo, hi, reason) for either fence arity — hi = +inf for the
    plain from-lo-upward form."""
    if len(fence) == 3:
        return float(fence[0]), float(fence[1]), fence[2]
    return float(fence[0]), float("inf"), fence[1]


def _sf_number(path: str) -> float | None:
    """sf magnitude from a data-dir basename ('sf100' -> 100.0);
    None when the dir doesn't follow the convention (fences then
    don't apply — an explicitly named custom dir is an operator
    decision, not a default sweep)."""
    base = os.path.basename(os.path.normpath(path))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return None


_NODE_RE = re.compile(r"^\* ([A-Za-z]+[A-Za-z0-9]*)", re.MULTILINE)


def _rows_by_name(df) -> list:
    """Rows as name-sorted value tuples with a None-safe total order:
    each value becomes (is_null, value), so columns that mix NULL and
    non-NULL rows sort without ever comparing None to a value."""
    cols = sorted(df.columns)
    return sorted(
        tuple((1, "") if r[c] is None else (0, r[c]) for c in cols)
        for r in df.collect()
    )


def semdedup_stream_batch_equality(spark, sf_dir: str, splits: int = 3) -> dict:
    """Stream==batch contract for the incremental SemDeDup index at
    SWEEP scale (VERDICT r7 #4): replay the embeddings table in
    vec_id-ordered splits through semdedup_index_writer and compare
    the full survivor (vec_id, list_id) set against the batch
    semantic_dedup operator.  The pytest twin proves this at toy
    scale; this records it in the artifact at sf1/sf10."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.operators.similarity import (
        CENTROID_IDS,
        semantic_dedup,
    )
    from flink_repartition_watermark_example_spark.sources.tables import load_table
    from flink_repartition_watermark_example_spark.streaming.semdedup import (
        read_semdedup_survivors,
        semdedup_index_writer,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(CENTROID_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    work = tempfile.mkdtemp(prefix="semdedup_sweep_")
    t0 = time.perf_counter()
    try:
        src = os.path.join(work, "emb_stream")
        # Split bounds by RANK quantile, not by id arithmetic: scaled
        # dirs have sparse vec_ids (gen_scale strides each replica's
        # ids), so n*i//splits bounds would leave some splits empty —
        # and an empty split file is an empty micro-batch.  Quantiles
        # of the actual id distribution keep every split populated.
        qs = emb.approxQuantile(
            "vec_id", [i / splits for i in range(1, splits)], 0.001
        )
        lo_id, hi_id = emb.agg(
            F.min("vec_id"), F.max("vec_id")
        ).collect()[0]
        cuts = sorted({int(q) + 1 for q in qs})
        bounds = [lo_id, *cuts, hi_id + 1]
        # The splits MUST replay in write order (ascending vec_id): the
        # survivor set is arrival-order dependent — a lower-id vector
        # arriving after its higher-id cluster mate never retro-purges
        # it — and FileStreamSource orders files by mtime.  Stamp each
        # split's part files with a strictly increasing mtime so coarse
        # filesystem timestamp granularity (or a tie across appends)
        # can never reorder splits and record a spurious equal=false.
        mtime_base = time.time()
        stamped: set[str] = set()
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            (
                emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            for name in os.listdir(src):
                if name.endswith(".parquet") and name not in stamped:
                    t = mtime_base + i
                    os.utime(os.path.join(src, name), (t, t))
                    stamped.add(name)
        index = os.path.join(work, "index")
        surv = os.path.join(work, "surv")
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.outputMode("append")
            .foreachBatch(semdedup_index_writer(index, surv, cents))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["vec_id"], r["list_id"])
            for r in read_semdedup_survivors(spark, surv).collect()
        }
        want = {
            (r["vec_id"], r["list_id"])
            for r in semantic_dedup(emb).collect()
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "stream_rows": len(got),
        "batch_rows": len(want),
        "equal": got == want,
        "splits": splits,
        "sec": round(time.perf_counter() - t0, 3),
    }


def plan_signature(df) -> dict[str, int]:
    """Node-type histogram of the formatted physical plan — enough to
    detect join-strategy / exchange-count flips across scales."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    sig: dict[str, int] = {}
    for m in _NODE_RE.finditer(buf.getvalue()):
        sig[m.group(1)] = sig.get(m.group(1), 0) + 1
    return sig


def run_one(spark, q, sf_dir: str, reps: int | None = None) -> tuple[float, dict[str, int]]:
    # Time the WHOLE query call: streaming entries drain their replay
    # inside q.spark() and return the already-materialized sink table,
    # so starting the clock after it would miss all their work.
    #
    # MIN of `reps` runs (default 2, SPARK_GRAFT_SCALE_REPS): the
    # first touch of an SF pays file listing + page-cache warmup and
    # the box carries external load — a single-shot ratio once read
    # 8.3× where the steady state was 2.8×.  Min (not median) because
    # the noise here is strictly one-sided.
    if reps is None:
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    # Isolate measurements: the dedup/ANN chains persist shared stages
    # and the iterative operators localCheckpoint per round — left in
    # place across queries (or across reps — Spark's CacheManager
    # matches by canonicalized plan, so rep 2 would silently reuse rep
    # 1's materialized stage) they contaminate whatever runs next (one
    # sweep measured the same query at 3 s and 40 s at the same SF
    # purely by run order).  Drop all cached relations and nudge both
    # GCs after EVERY rep so each clock starts cold.
    import gc

    def _isolate():
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    elapsed = float("inf")
    sig: dict[str, int] = {}
    for _ in range(reps):
        t0 = time.perf_counter()
        df = q.spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        elapsed = min(elapsed, time.perf_counter() - t0)
        sig = plan_signature(df) if not df.isStreaming else {}
        del df
        _isolate()
    return elapsed, sig


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default=os.path.join(REPO, ".scaledata", "sf1"))
    ap.add_argument("--baseline", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_sf1.json"))
    ap.add_argument(
        "--merge",
        action="store_true",
        help="merge this run's per-query rows into an existing --out "
        "artifact instead of overwriting it — so a changed/new query "
        "can be re-swept without losing (or re-paying for) the other "
        "entries.  Top-level aggregates (max_ratio, total_sec_sf1) are "
        "recomputed over the merged set; the dirs/mult metadata must "
        "match or the merge refuses.",
    )
    ap.add_argument(
        "--mult",
        type=int,
        default=10,
        help="data multiplier of --sf1 relative to --baseline (artifact "
        "metadata only; e.g. 10 for sf0.1->sf1, also 10 for sf1->sf10)",
    )
    ap.add_argument(
        "--stream-fpt",
        type=int,
        default=0,
        help="maxFilesPerTrigger for streaming_windowed_count's replay "
        "(0 = leave at 1).  At sf100 the events table is ~250 part "
        "files and per-file triggers measure per-batch overhead, not "
        "throughput; ~10 batches the files to ~25 triggers.",
    )
    ap.add_argument(
        "--semdedup-equality",
        action="store_true",
        help="also record stream==batch FULL survivor-set equality for "
        "the incremental SemDeDup index at the --sf1 dir (heavy: one "
        "streaming replay + one batch semantic_dedup)",
    )
    ap.add_argument(
        "--semdedup-equality-only",
        action="store_true",
        help="run ONLY the SemDeDup equality check and merge its row "
        "into the existing --out artifact's stream_batch_rows — so an "
        "equality-stage failure can never cost the sweep timings",
    )
    args = ap.parse_args()
    if args.semdedup_equality_only:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
        spark = get_spark(app_name="scale-check-semdedup")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(4 * spark.sparkContext.defaultParallelism),
        )
        res = semdedup_stream_batch_equality(spark, args.sf1)
        tag = f"streaming_semdedup@{os.path.basename(os.path.normpath(args.sf1))}"
        # On a fresh box the sweep artifact may not exist yet — the
        # whole point of this flag is never losing the equality result,
        # so fall back to a minimal artifact instead of crashing
        # (mirrors semdedup_scaled_k.py's guarded merge).
        if os.path.exists(args.out):
            with open(args.out) as f:
                artifact = json.load(f)
        else:
            artifact = {
                "note": "created by --semdedup-equality-only before any "
                "sweep run; only stream_batch_rows is populated"
            }
        artifact.setdefault("stream_batch_rows", {})[tag] = res
        with open(args.out, "w") as f:
            json.dump(artifact, f, indent=2)
        print(f"{tag}: {res}", flush=True)
        return
    if args.stream_fpt > 0:
        os.environ["SPARK_GRAFT_STREAM_FPT"] = str(args.stream_fpt)

    if not os.path.isdir(args.sf1):
        raise SystemExit(
            f"{args.sf1} missing — run scripts/gen_scale.py first"
        )

    all_queries = {**QUERIES, **EXTRA_QUERIES}
    names = [n for n in args.queries.split(",") if n]
    # Scale-sweep sessions get 4g (unless the env overrides): the 1g
    # default is measured-optimal at sf0.1, but the exploded
    # aggregations and the fact-join partial aggs at sf10 under 32
    # task threads genuinely exhaust 1-2g (spill-writer allocation OOM
    # with all accounted memory fine; multi_join_revenue crashed at 2g
    # on its second rep and ran 1.8x FASTER at 4g than at 2g — the
    # old "larger heap is strictly slower" measurement holds only at
    # sf0.1 working sets).  Both legs of every ratio run under the
    # same heap, so the artifact stays internally consistent.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark(app_name="scale-check")
    # Shuffle partitions sized to the sweep's data, not the core
    # count: per-partition working sets (pair-join partial aggs,
    # window sorts) grow with SF, and AQE coalesces the excess at
    # small SF — so 4x the core count costs nothing below sf1 and is
    # the difference between spill and heap-OOM above it.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(4 * spark.sparkContext.defaultParallelism),
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    report: dict[str, dict] = {}
    sf_num = _sf_number(args.sf1)
    fenced_now: dict[str, dict] = {}
    for name in names:
        fence = SF_FENCES.get(name)
        if fence and sf_num is not None:
            lo, hi, reason = fence_bounds(fence)
            if lo <= sf_num < hi:
                fenced_now[name] = {
                    "reason": reason,
                    "fenced_from_sf": lo,
                    **({"fenced_below_sf": hi} if hi != float("inf") else {}),
                }
                print(f"{name}: FENCED at sf{sf_num:g} (in [{lo:g}, "
                      f"{hi:g})) — skipping; fenced_out row emitted",
                      flush=True)
                continue
        q = all_queries[name]
        # warmup at sf0.001 so neither measured run pays first-use
        # JIT/codegen/Python-worker startup (it lands on whichever run
        # goes first otherwise, skewing the ratio)
        run_one(spark, q, "/root/testdata/sf0.001")
        t_small, sig_small = run_one(spark, q, args.baseline)
        t_big, sig_big = run_one(spark, q, args.sf1)
        flips = {
            node: [sig_small.get(node, 0), sig_big.get(node, 0)]
            for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                         "BroadcastNestedLoopJoin", "CartesianProduct")
            if sig_small.get(node, 0) != sig_big.get(node, 0)
        }
        report[name] = {
            "sec_sf01": round(t_small, 3),
            "sec_sf1": round(t_big, 3),
            "ratio": round(t_big / t_small, 2) if t_small > 0 else None,
            "join_flips": flips,
            "plan_sf01": sig_small,
            "plan_sf1": sig_big,
        }
        if name == "streaming_windowed_count":
            # throughput, not just wall: events/s at the big SF plus
            # the batching knob, so the artifact distinguishes "slow
            # engine" from "many tiny micro-batches"
            n_events = spark.read.parquet(
                os.path.join(args.sf1, "events.parquet")
            ).count()
            report[name]["files_per_trigger"] = int(
                os.environ.get("SPARK_GRAFT_STREAM_FPT", "1")
            )
            report[name]["events_per_sec_sf1"] = round(n_events / t_big)
        print(
            f"{name}: {t_small:.2f}s -> {t_big:.2f}s "
            f"(x{t_big / t_small:.1f}) flips={flips or 'none'}",
            flush=True,
        )

    # Stream==batch row counts at both scales: the replay treats each
    # part file as a micro-batch with a 0-delay watermark, so scaled
    # events parts that aren't event-time ordered would silently drop
    # late rows and the wall-times above would measure a reduced-state
    # workload.  Recording the counts makes that failure loud
    # (tests/test_scale_artifact.py asserts equality).
    stream_batch: dict[str, dict] = {}
    for s_name, b_name, full_rows in (
        ("streaming_windowed_count", "windowed_count", False),
        # streaming sketch index vs its batch twin: the heavy-hitter
        # output is O(k) rows, so the contract here is FULL row-set
        # equality (estimates included), not just counts
        ("streaming_cms_heavy_hitters", "cms_heavy_hitters", True),
    ):
        if s_name not in report:
            continue
        for label, d in (("sf01", args.baseline), ("sf1", args.sf1)):
            sdf = all_queries[s_name].spark(spark, d)
            bdf = all_queries[b_name].spark(spark, d)
            if full_rows:
                # Order-insensitive BY NAME with a None-safe sort key:
                # tuple(row) is column-order-sensitive, and a raw None
                # in a sort position aborts the whole sweep with
                # TypeError instead of recording equal=false.
                try:
                    srows = _rows_by_name(sdf)
                    brows = _rows_by_name(bdf)
                    sc, bc, eq = len(srows), len(brows), srows == brows
                except Exception as e:  # record, don't crash the sweep
                    print(f"{s_name}@{label}: compare failed: {e}",
                          flush=True)
                    sc, bc, eq = -1, -1, False
            else:
                sc, bc = sdf.count(), bdf.count()
                eq = sc == bc
            stream_batch[f"{s_name}@{label}"] = {
                "stream_rows": sc,
                "batch_rows": bc,
                "equal": eq,
            }
            print(f"{s_name}@{label}: stream={sc} batch={bc} eq={eq}",
                  flush=True)

    if args.semdedup_equality:
        tag = f"streaming_semdedup@{os.path.basename(os.path.normpath(args.sf1))}"
        try:
            res = semdedup_stream_batch_equality(spark, args.sf1)
        except Exception as e:  # never lose the timings to this stage
            res = {"equal": False, "error": str(e)[:500]}
        stream_batch[tag] = res
        print(f"{tag}: {res}", flush=True)

    if args.merge and os.path.exists(args.out):
        with open(args.out) as f:
            old = json.load(f)
        for key, val in (("baseline_dir", args.baseline),
                         ("sf1_dir", args.sf1), ("mult", args.mult)):
            if old.get(key) != val:
                raise SystemExit(
                    f"--merge refused: existing {args.out} has "
                    f"{key}={old.get(key)!r}, this run uses {val!r} — "
                    "the ratios would not be comparable"
                )
        report = {**old.get("queries", {}), **report}
        stream_batch = {**old.get("stream_batch_rows", {}), **stream_batch}
        # carry over recorder keys other tools merged into the artifact
        # (e.g. semdedup_scaled_k) — rebuilding from scratch would
        # silently drop them
        extra_top = {
            k: v
            for k, v in old.items()
            if k not in ("mult", "baseline_dir", "sf1_dir", "driver_mem",
                         "queries", "stream_batch_rows", "max_ratio",
                         "total_sec_sf1")
        }
    else:
        extra_top = {}
    # fencing is an explicit decision: the key is always present (empty
    # when nothing is fenced) so guard tests can require it.  SF_FENCES
    # skips emit their rows here; an existing (usually richer,
    # measurement-carrying) note for the same query is kept.
    extra_top.setdefault("fenced_out", {})
    for fname, frow in fenced_now.items():
        extra_top["fenced_out"].setdefault(fname, frow)
    artifact = {
        **extra_top,
        "mult": args.mult,
        "baseline_dir": args.baseline,
        "sf1_dir": args.sf1,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
        "queries": report,
        "stream_batch_rows": stream_batch,
        "max_ratio": max(
            (r["ratio"] for r in report.values() if r["ratio"] is not None),
            default=None,
        ),
        "total_sec_sf1": round(sum(r["sec_sf1"] for r in report.values()), 2),
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=2)
    print(json.dumps({"metric": "scale_check_max_ratio",
                      "value": artifact["max_ratio"],
                      "unit": "x", "queries": len(report)}))


if __name__ == "__main__":
    main()
