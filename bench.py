"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line with per-query wall seconds.

Execution is measured with the ``noop`` sink so the full distributed
pipeline (scan → shuffle → agg) runs without driver-side collect cost.
The reference baseline (BASELINE.md) is ~223 s for 345,600 events,
throttle-bound; sf0.1 here is ~1.2M events + 600k lineitem.

Each query is timed REPS times and the per-query MEDIAN is reported
(with max-min spread alongside): this box carries external load
(loadavg 5-11 at idle), and a single-shot run once drifted 1.4×
uniformly across all queries between rounds — pure noise that cost a
full comparison cycle.  Reading the artifact: ``queries`` holds the
medians (sum = ``value``); a query whose ``spread`` rivals its median
is noise-dominated and only large non-uniform median deltas are real.
Set SPARK_GRAFT_BENCH_REPS to override (1 = old single-shot mode).
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_repartition_watermark_example_spark import get_spark
from flink_repartition_watermark_example_spark.session import (
    TIER4_THRESHOLDS,
    vm_options,
)
from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

# Extras benched alongside the primary 50.  A query that rotates out of
# the gate keeps its slot here, so the benched set stays the same across
# rotations (gate_policy.ROTATION_LOG records which round moved which
# query).  The uncapped streaming_cluster_map equality witness stays out:
# it is quadratic by contract on the degenerate template bucket.
BENCH_EXTRAS = [
    "pq_adc_topk",
    "multi_join_revenue_bucketed",
    "image_decode_stats",
    "streaming_hll_distinct_users",
    "audio_decode_stats",
    "union_active_days",
    "order_priority_late_exists",
    "volume_shipping",
    "training_mix_weights",
    "windowed_daily_user_activity",
    "lsh_ann_topk",
    "multimodal_fake_decode",
    "span_dedup_docs",
    "ivf_ann_filtered_topk",
    "semantic_dedup_survivors",
    "pack_chunks_into_sequences",
    "length_bucket_padding_stats",
    "shuffle_shard_stats",
    "vocab_growth_by_source",
    "source_overlap_matrix",
    "token_quota_selection",
    "gapfill_hourly_counts",
    "locf_filled_values",
    "funnel_conversion_cohorts",
    "weekly_retention_cohorts",
    "forecast_revenue_change",
    "min_cost_regional_supplier",
    "product_type_profit",
    "important_part_values",
    "supplier_part_relationship",
    "potential_promotion_suppliers",
    "tfidf_top_terms",
    "bigram_lift",
    "rolling_anomaly_hours",
    "embedding_dim_stats",
    "product_type_profit_bucketed",
    "neardup_triangles",
    "top_event_paths",
    "minhash_signatures",
    "simhash_docs",
    "ann_recall_filtered",
    "corpus_datacard",
    "contrastive_pairs",
    "hard_negative_mining",
    "semantic_cluster_sizes",
    "embedding_int8_quant_stats",
    "dedup_audit_sample",
    "streaming_int8_scales",
    "split_leakage_audit",
    "split_by_cluster",
    "split_leakage_audit_clustered",
    "ann_recall_ivf_production",
    "semantic_cluster_sizes_routed",
    "split_leakage_cross_family",
    "split_by_cluster_multi",
    "split_leakage_audit_multi",
    "promo_revenue_share",
    "ann_recall_ivf_trained_production",
    "word_count_topn",
    "fingerprint_dedup",
    "embedding_pca_variance",
    "embedding_pca_project_stats",
    "source_token_divergence",
    "cluster_map_staleness",
    "pivot_revenue_by_priority",
    "table_profile",
    "key_skew_report",
    "streaming_dq_monitor",
    "ivf_diverse_topk",
]

# Which pre-timed session builds each benched query consumes (VERDICT
# r12 #6): a per-query row below measures the MARGINAL cost given the
# named index artifact; standalone cost = row + the named build key's
# value (charged once per session).  Queries not listed here compute
# self-contained plans.  Written into the artifact every run.
CONSUMES = {
    # cluster_build(): the pinned simhash-family pair relation + the
    # CC cluster map (pinned_simhash / pinned_family_pairs feed it)
    "split_by_cluster": ["cluster_build_sec"],
    "split_leakage_audit_clustered": ["cluster_build_sec"],
    "split_by_cluster_balanced": ["cluster_build_sec"],
    "split_leakage_audit": ["cluster_build_sec"],
    "neardup_triangles": ["cluster_build_sec"],
    "contrastive_pairs": ["cluster_build_sec"],
    "dedup_audit_sample": ["cluster_build_sec"],
    "cluster_map_staleness": ["cluster_build_sec"],
    # the multi-family builds additionally construct the jaccard (from
    # the LSH index) and containment families on their own first rep
    # (memoized in-session; medians report the warm consumer cost)
    "split_leakage_cross_family": ["cluster_build_sec", "lsh_index_build_sec"],
    "split_by_cluster_multi": ["cluster_build_sec", "lsh_index_build_sec"],
    "split_leakage_audit_multi": ["cluster_build_sec", "lsh_index_build_sec"],
    # pinned_shingle_sigs(): the LSH shingle + minhash-signature index
    "lsh_candidate_pairs": ["lsh_index_build_sec"],
    "ngram_jaccard_pairs": ["lsh_index_build_sec"],
    "neardup_purged_docs": ["lsh_index_build_sec"],
    # kmeans.train(): the trained-quantizer centroids
    "ann_recall_ivf_trained_production": ["kmeans_train_sec"],
}

# Cross-round regressions that are ACCEPTED costs of a correctness or
# recall fix (VERDICT r10 #7): recorded here so future rounds don't
# re-litigate the delta, written into the artifact, and exempt from
# regression flags by any cross-round comparison that reads it.
ACCEPTED_REGRESSIONS = {
    # VERDICT r12 #7: the rows whose driver/builder medians disagreed
    # by >0.5 s were re-baselined ISOLATED (5 reps, fresh session,
    # quiet box — scripts/record_rebaseline.py, results under the
    # artifact's isolated_rebaseline key).  streaming_cms_heavy_hitters
    # re-baselined clean (spread 11% of median).  The two below stay
    # noisy even isolated; the cause is structural, not a plan change,
    # so their cross-round deltas under ~spread are not regressions:
    "hard_negative_mining": {
        "round": 13,
        "median_sec": 0.63,
        "spread_sec": 0.19,
        "reason": "every rep legitimately re-executes two one-pass "
        "corpus scans (the pinned exact top-5 and the IVF top-15), each "
        "with its driver collects; re-measured isolated on a 4-core box "
        "(scripts/record_rebaseline.py, 9 reps, two runs): median "
        "0.60-0.67 s, spread 0.18-0.19 s, about 30% of median with no "
        "plan change",
    },
    "span_dedup_stats": {
        "round": 13,
        "median_sec": 0.82,
        "spread_sec": 0.34,
        "reason": "sub-second winnowing window + rollup; the box's "
        "per-job jitter (~±0.2 s) dominates any sub-second row — "
        "isolated 5-rep median 0.82 s agrees with the r12 builder "
        "number (0.8-1.0 s); the driver's 1.55 s row was a loaded rep",
    },
    "ivf_ann_filtered_topk": {
        "round": 10,
        "from_sec": 0.78,
        "to_sec": 1.02,
        "reason": "adaptive-nprobe recall fix: probe width scales with "
        "inverse filter selectivity (operators/similarity.py) so "
        "filtered recall >= unfiltered recall; the +31% wall is the "
        "price of probing ceil(nprobe*total/kept) cells — "
        "regression-test-pinned in tests/test_similarity_ann.py",
    },
}


# Top-level artifact keys main() writes; any other key is carried over.
OWN_KEYS = {"metric", "value", "unit", "queries", "spread", "reps",
            "reruns", "sf", "accepted_regressions", "cluster_build_sec",
            "kmeans_train_sec", "lsh_index_build_sec",
            "stream_shuffle_partitions", "consumes", "cpus", "python",
            "jit_tier4"}


def jit_tier4(spark) -> dict[str, int]:
    """The live driver JVM's tier-4 (C2) compile thresholds."""
    return {k: int(v) for k, (v, _) in vm_options(spark, TIER4_THRESHOLDS).items()}


def compact_line(
    timings: dict[str, float],
    sf: float,
    prev: dict | None = None,
    cpus: int | None = None,
    jit: dict[str, int] | None = None,
) -> str:
    """The stdout summary line (VERDICT r10 #3): the driver tail-
    captures a bounded (~2000-char) window and the full per-query map
    truncated from the front in r05/r06/r09/r10 (parsed: null) even at
    2-decimal compaction.  So stdout carries total, query count, the 5
    slowest, and a sha256 of the full per-query map — verifiable
    against BENCH_local.json, sized ~400 chars (test-pinned under
    1500) at any registry size.

    ``geomean_vs_prev`` / ``n_common_prev`` (VERDICT r12 #3/#8): the
    driver's own round-over-round view is limited to the two rounds'
    top-5 stdout windows (n_common collapsed to 1 in r12), so the
    harness computes the full-common-set geomean speedup against the
    per-query map of the BENCH_local.json it found on disk at start
    (``prev``) — still ONE bounded JSON line.  Only an artifact taken
    at the same ``sf`` and ``cpus`` is compared (ADVICE r13 #1): a
    ratio across scale factors or core counts is not a round-over-round
    speedup, so the line then reads null, as it does when ``cpus`` is
    unknown.  ``python`` is this interpreter's version: a Python task's
    fixed cost differs between CPython 3.10–3.12 and 3.13 (the engine
    worker daemon's zip-cache guard applies only below 3.13).
    ``jit_tier4`` is ``jit``, the driver JVM's effective tier-4 (C2)
    compile thresholds: the JVM rows' warm-up cost depends on them
    (session.py's JIT compile policy)."""
    import hashlib
    import math

    worst5 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    qsha = hashlib.sha256(
        json.dumps(
            {k: timings[k] for k in sorted(timings)}, separators=(",", ":")
        ).encode()
    ).hexdigest()
    comparable = (
        prev is not None
        and cpus is not None
        and prev.get("sf") == sf
        and prev.get("cpus") == cpus
    )
    prev_queries = (prev.get("queries") or {}) if comparable else {}
    common = {
        k: prev_queries[k] / v
        for k, v in timings.items()
        if prev_queries.get(k) and v > 0
    }
    geo = (
        round(
            math.exp(sum(math.log(s) for s in common.values()) / len(common)), 3
        )
        if common
        else None
    )
    return json.dumps(
        {
            "metric": "engine_bench_total",
            "value": round(sum(timings.values()), 2),
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in worst5.items()},
            "n_queries": len(timings),
            "queries_sha256": qsha[:16],
            "geomean_vs_prev": geo,
            "n_common_prev": len(common),
            "full_artifact": "BENCH_local.json",
            "sf": sf,
            "cpus": cpus,
            "python": platform.python_version(),
            "jit_tier4": jit,
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="engine-bench")
    cpus = spark.sparkContext.defaultParallelism
    jit = jit_tier4(spark)

    # JVM/codegen warmup + one touch per table so the first measured
    # query isn't charged for JIT or file-index building.
    spark.range(1000).selectExpr("sum(id)").collect()
    from flink_repartition_watermark_example_spark.datamodel import TABLES
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()

    # Materialize the shared cluster map ONCE, timed and recorded under
    # its own artifact key (cluster_build_sec): the three cluster-split
    # queries consume the checkpoint-pinned map (the production
    # materialize-once shape, VERDICT r11 #3 — streaming/clustermap.py
    # is the durable on-disk form), so their per-query rows measure the
    # marginal consumer cost and this key keeps the one-off build cost
    # visible instead of letting it vanish into rep medians.
    from flink_repartition_watermark_example_spark.queries_dedup import (
        cluster_build,
        pinned_shingle_sigs,
    )

    t0 = time.perf_counter()
    cluster_build(spark, sf_dir)
    build_sec = round(time.perf_counter() - t0, 2)

    # Same discipline for the LSH-family index artifacts (r12): the
    # shingle + minhash-signature relations are materialized once per
    # session (the streaming neardup index persists exactly these on
    # disk) and consumed by the candidate/jaccard/purge queries; the
    # one-off cost is recorded under its own key so it stays visible.
    t0 = time.perf_counter()
    pinned_shingle_sigs(spark, sf_dir)
    lsh_index_build_sec = round(time.perf_counter() - t0, 2)

    # Same discipline for the trained k-means quantizer (round 12):
    # train() memoizes per (session, source fingerprint) — an index
    # artifact refreshed on the build cadence — so the trained-IVF
    # query rows measure serve cost and this key records the one-off
    # Lloyd pass.
    from flink_repartition_watermark_example_spark.operators import kmeans as KM

    t0 = time.perf_counter()
    KM.train(load_table(spark, sf_dir, "embeddings"))
    kmeans_train_sec = round(time.perf_counter() - t0, 2)

    from flink_repartition_watermark_example_spark.queries_streaming import (
        stream_shuffle_width,
    )

    stream_width = stream_shuffle_width()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    bench_set = list(QUERIES.items()) + [
        (n, EXTRA_QUERIES[n]) for n in BENCH_EXTRAS
    ]
    import gc

    # Noise guard (VERDICT r9 #6): this box carries external load, so a
    # single loaded rep can blow a query's max-min spread past its
    # median and poison the artifact's noise flag.  When the initial
    # reps' spread exceeds 50% of their median, run up to
    # SPARK_GRAFT_BENCH_MAX_EXTRA more reps, then pick the reps-sized
    # core of runs closest to the all-runs median and report BOTH the
    # timing and the spread over that core — the loaded outliers
    # triggered the re-runs and are excluded as external-load
    # artifacts (still counted in `reruns` so the exclusion is
    # visible).  The recorded timing is median(core), not median(all):
    # the two can differ when extra reps shift the core selection.
    max_extra = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "2"))
    reruns: dict[str, int] = {}

    def one_rep(q) -> float:
        t0 = time.perf_counter()
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        # Isolate reps/queries from each other: persisted shared
        # stages (dedup chain) and per-round localCheckpoints
        # (clustering, k-means, BPE) otherwise accumulate across
        # the run and tax whatever happens to execute after them.
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return dt

    for name, q in bench_set:
        runs = [one_rep(q) for _ in range(reps)]
        extra = 0
        while (
            reps > 1
            and extra < max_extra
            and max(runs) - min(runs) > 0.5 * statistics.median(runs)
        ):
            runs.append(one_rep(q))
            extra += 1
        if extra:
            reruns[name] = extra
        med = statistics.median(runs)
        core = sorted(runs, key=lambda r: abs(r - med))[:reps]
        timings[name] = round(statistics.median(core), 4)
        spreads[name] = round(max(core) - min(core), 4)

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    # Preserve recorder keys other tools merged into the artifact (the
    # recorded decode_pregate A/B row, the rebaseline rows) — carry
    # over every top-level key this harness doesn't own.
    preserved: dict = {}
    prev: dict | None = None
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f)
            preserved = {k: v for k, v in prev.items() if k not in OWN_KEYS}
        except (json.JSONDecodeError, OSError):
            preserved, prev = {}, None
    full = json.dumps(
        {
            **preserved,
            "metric": "engine_bench_total",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": timings,
            "spread": spreads,
            "reps": reps,
            "reruns": reruns,
            "accepted_regressions": ACCEPTED_REGRESSIONS,
            "cluster_build_sec": build_sec,
            "kmeans_train_sec": kmeans_train_sec,
            "lsh_index_build_sec": lsh_index_build_sec,
            "consumes": CONSUMES,
            "stream_shuffle_partitions": stream_width,
            "sf": sf,
            "cpus": cpus,
            "python": platform.python_version(),
            "jit_tier4": jit,
        }
    )
    with open(out_path, "w") as f:
        f.write(full + "\n")
    print(compact_line(timings, sf, prev, cpus, jit), flush=True)


if __name__ == "__main__":
    main()
