"""Gate-rotation policy for the 50-slot driver correctness gate.

The external driver hash-checks EXACTLY the 50 primary registrations
(``queries.QUERIES``) against their DuckDB oracles each round.  With a
registry far larger than 50, which queries hold a slot is a coverage
decision, and through round 9 it was made ad hoc.  This module writes
the policy down and `tests/test_gate_policy.py` mechanizes it, so every
future rotation is justified by a green policy test instead of taste.

THE POLICY
==========

1. **Family floors.**  Every physical-operator family listed in
   ``FAMILIES`` must hold at least one gate slot at all times.  A
   family is a set of registered queries that exercise the same
   physical machinery (same operators, same shuffle shape); any one of
   them holding a slot keeps that machinery driver-checked.
2. **No anonymous slots.**  Every gate query must belong to at least
   one family.  A query that cannot be classified is either a new
   family (add it — which rule 1 then protects) or redundant with an
   existing slot (rotate it out).
3. **Swaps stay within coverage.**  A rotation may only remove a query
   whose families each keep another gate member after the swap — this
   is implied by re-running rule 1 after the rotation, so it needs no
   separate check.
4. **New families gate within one round.**  When a round introduces a
   query family that did not exist before (a genuinely new physical
   shape, not a variant), a member must take a gate slot in that same
   round's rotation.  Mechanized indirectly: adding the family to
   ``FAMILIES`` (required by rule 2 for its members ever to hold a
   slot... and by review for new work) makes rule 1 demand a slot.
5. **Rotations are logged.**  Every gate membership change appends a
   ``ROTATION_LOG`` entry.  The policy test diffs the live gate
   against the most recent ``CORRECTNESS_r{N}.json`` artifact and
   requires the log entries newer than that artifact to explain the
   diff EXACTLY — an unlogged rotation (or a logged-but-not-performed
   one, the round-8 item #4 failure mode this rule exists to prevent)
   fails the suite.  A rotated-out query normally stays registered as
   an extra; one whose code is deleted outright is named in its
   entry's ``deleted`` list, and a name may appear there only while
   no query of that name is registered.

Families deliberately include extras: an extra sharing a family with a
gate member is the natural swap candidate when its family needs a new
representative (e.g. `minhash_signatures` rotating out in round 10 —
`lsh_candidate_pairs` recomputes the signatures inside the gate).
"""

from __future__ import annotations

# Physical-operator families.  Keys are family names; values are the
# registered queries (gate or extra) that exercise that machinery.
# Only GATE members count toward the rule-1 floor; extras are listed
# where they are the designated swap pool for the family.
FAMILIES: dict[str, set[str]] = {
    # reference-core streaming replica (S1-S14)
    "windowed_count_core": {"windowed_count"},
    "streaming_replica": {
        "streaming_windowed_count",
        "streaming_interval_join",
    },
    "streaming_incremental_index": {
        "streaming_cms_heavy_hitters",
        "streaming_anomaly_hours",
        "streaming_hll_distinct_users",
        "streaming_quantile_value",
        "streaming_bitmap_active_users",
        "streaming_int8_scales",
        "streaming_cluster_map",
        "streaming_dq_monitor",
    },
    # scans / filters / projections / pushdown
    "scan_filter_project": {"scan_filter_project"},
    # hash aggregation (partial+final), distinct, grouping surfaces
    "hash_aggregation": {"pricing_summary", "distinct_users_by_type"},
    "grouping_surfaces": {
        "grouping_sets_revenue",
        "pivot_revenue_by_priority",
        "rollup_revenue",
        "cube_activity",
        "unpivot_part_metrics",
    },
    "exact_percentile": {"median_value_by_type"},
    # sort / top-k
    "topk_sort": {"topk_orders", "word_count_topn", "top_suppliers_by_nation"},
    # scalar function surfaces
    "json_functions": {"json_extract_props"},
    "string_functions": {"string_funcs_customer_ids"},
    # join strategies
    "multiway_broadcast_join": {"multi_join_revenue"},
    "semi_anti_join": {
        "semi_join_active_customers",
        "anti_join_dormant_customers",
    },
    "outer_join": {"left_join_order_counts", "full_outer_daily_activity"},
    "asof_range_join": {"asof_last_view_before_purchase"},
    # correlated-subquery decorrelation shapes
    "decorrelation": {
        "orders_above_cust_avg",
        "waiting_suppliers",
        "promo_revenue_share",
        "nation_market_share",
    },
    # window functions
    "window_rank": {"window_rank_orders"},
    "window_frame": {"running_revenue_frame"},
    "window_rolling_zscore": {
        "streaming_anomaly_hours",
        "rolling_anomaly_hours",
    },
    # event-time windows (batch twins of the streaming semantics)
    "event_time_windows": {"sliding_window_counts", "session_windows"},
    # text-pipeline analysis
    "text_analysis": {"text_analysis", "text_quality_by_source"},
    "tokenization": {"token_counts_by_source", "word_count_topn"},
    "language_id": {"lang_id_confusion"},
    "curation_composition": {"curation_funnel"},
    # dedup grains
    "exact_dedup": {"exact_dedup_docs", "fingerprint_dedup"},
    "minhash_lsh": {
        "lsh_candidate_pairs",
        "ngram_jaccard_pairs",
        "minhash_signatures",
        "neardup_verified_pairs",
    },
    "simhash": {
        "neardup_purged_docs",
        "simhash_docs",
        "simhash_neardup_pairs",
        "dedup_audit_sample",
        "split_leakage_audit",
        "split_by_cluster",
        "split_leakage_audit_clustered",
        "split_leakage_cross_family",
    },
    # round-11 physical shapes, gated in round 12 (rule 4): the
    # star-contraction CC labeling (operators/graph.py) under the
    # split/cluster consumers, and the two-level 256-shard distributed
    # prefix sum (queries_dedup.quota_split_assign).
    # split_by_cluster_balanced covers both with one slot.
    "connected_components": {
        "neardup_clusters",
        "split_by_cluster",
        "split_leakage_audit_clustered",
        "split_by_cluster_balanced",
        "split_by_cluster_multi",
        "split_leakage_audit_multi",
        "streaming_cluster_map",
    },
    "distributed_prefix_sum": {"split_by_cluster_balanced"},
    # round-12 physical shapes, gated the same round (rule 4): the
    # incremental CC label-graph merge with its ORACLE-EXACT hot-bucket
    # cap (streaming/clustermap.py — the only streaming index whose
    # production cap renders as SQL), and the one-pass integer-Gram
    # accumulation (operators/linalg.py — per-batch int64 matmul, an
    # O(partitions * d^2) exchange instead of any row-wise shuffle).
    "streaming_cluster_map": {
        "streaming_cluster_map",
        "streaming_cluster_map_capped",
        "cluster_map_staleness",
    },
    "integer_gram_linalg": {
        "embedding_covariance_topk",
        "embedding_pca_variance",
        "embedding_pca_project_stats",
    },
    # round-12 capability class: declarative data-quality gating /
    # profiling / skew diagnostics (queries_quality.py) — the
    # constraint-report member carries the family's gate slot.
    "data_quality": {
        "dq_constraint_report",
        "table_profile",
        "key_skew_report",
        "streaming_dq_monitor",
    },
    "span_dedup": {"span_dedup_stats", "span_dedup_docs"},
    "semantic_dedup": {
        "semantic_dedup_scaled",
        "semantic_dedup_survivors",
        "semantic_dedup_hier",
        "semantic_cluster_sizes",
        "semantic_cluster_sizes_routed",
    },
    # similarity search
    "exact_knn": {"cosine_topk", "embedding_neardup_pairs"},
    "ivf_ann": {
        "ivf_ann_topk",
        "ivf_ann_filtered_topk",
        "hard_negative_mining",
        "ann_recall_ivf_production",
        "ann_recall_ivf_trained_production",
        "ivf_diverse_topk",
    },
    # sketches
    "sketch_aggregates": {"approx_distinct_users_sketch"},
    # multimodal plumbing
    "multimodal": {"multimodal_features", "image_decode_stats"},
    # training-data prep
    "chunking_packing": {"doc_chunks", "pack_chunks_into_sequences"},
    "deterministic_splits": {
        "hash_split_counts",
        "stratified_sample_docs",
        "split_by_cluster",
        "split_by_cluster_balanced",
        "split_by_cluster_multi",
    },
}

# Every family above must hold >= 1 gate slot (rule 1).
REQUIRED_FAMILIES = frozenset(FAMILIES)

# Gate membership changes, newest last.  `round` is the build round the
# rotation shipped in; `added` entered the 50-slot gate, `removed` left
# it for the extras registry, unless the optional `deleted` list names
# it (its code is gone).  The policy test replays entries newer than
# the latest CORRECTNESS artifact against the live gate (rule 5).
ROTATION_LOG: list[dict] = [
    {
        "round": 7,
        "added": [
            "semantic_dedup_survivors",
            "streaming_cms_heavy_hitters",
            "nation_market_share",
        ],
        "removed": [
            "windowed_daily_user_activity",
            "lsh_ann_topk",
            "multimodal_fake_decode",
        ],
        "reason": "gate the sketch/streaming and decorrelation shapes; the"
        " removed trio stayed covered by window/ANN/multimodal siblings",
    },
    {
        "round": 8,
        "added": ["waiting_suppliers"],
        "removed": ["union_active_days"],
        "reason": "gate TPC-H Q21's chained same-key double decorrelation;"
        " set-op coverage kept by full_outer_daily_activity's union leg",
    },
    {
        "round": 9,
        "added": ["semantic_dedup_scaled"],
        "removed": ["semantic_dedup_survivors"],
        "reason": "gate the production k~n/500 SemDeDup config instead of"
        " the fixed-k teaching variant (same family)",
    },
    {
        "round": 10,
        "added": ["span_dedup_stats", "streaming_anomaly_hours"],
        "removed": ["minhash_signatures", "simhash_docs"],
        "reason": "give the span-dedup family and the round-9 incremental-"
        "index family driver-checked rows (VERDICT r9 #1 / r8 #4);"
        " minhash signatures are recomputed inside lsh_candidate_pairs"
        " and the simhash kernel inside neardup_purged_docs, so both"
        " families keep gate members",
    },
    {
        "round": 11,
        "added": ["semantic_dedup_joined"],
        "removed": ["semantic_dedup_scaled"],
        "reason": "gate the broadcast-relation SemDeDup assignment tier"
        " (BroadcastExchange + struct-max argmax + anti-join purge — a"
        " genuinely new physical shape in round 10, rule 4; VERDICT r10"
        " #4).  Same family and the IDENTICAL oracle SQL, so the"
        " semantic_dedup floor keeps a member; the closure tier stays"
        " bit-identical-pinned to the joined tier in"
        " tests/test_semdedup_joined.py",
    },
    {
        "round": 12,
        "added": ["split_by_cluster_balanced"],
        "removed": ["promo_revenue_share"],
        "reason": "gate the two round-11 physical shapes that had zero"
        " driver-checked rows (VERDICT r11 #2, rule 4): star-contraction"
        " connected components and the two-level 256-shard distributed"
        " prefix sum — split_by_cluster_balanced runs both in one slot."
        "  promo_revenue_share rotates to extras: the decorrelation"
        " family keeps THREE gate members (orders_above_cust_avg,"
        " waiting_suppliers, nation_market_share) and Q14's"
        " conditional-aggregate ratio stays oracle-checked in pytest"
        " and benched via BENCH_EXTRAS",
    },
    {
        "round": 12,
        "added": [
            "embedding_covariance_topk",
            "streaming_cluster_map_capped",
            "dq_constraint_report",
        ],
        "removed": ["word_count_topn", "fingerprint_dedup", "pivot_revenue_by_priority"],
        "reason": "gate the two physical shapes round 12 itself introduced"
        " (rule 4): the one-pass integer-Gram accumulation"
        " (operators/linalg.py — per-batch int64 matmul, O(p*d^2)"
        " exchange, no row-wise shuffle) via embedding_covariance_topk,"
        " and the incremental CC label-graph cluster map in its"
        " cap-ORACLE-EXACT production config via"
        " streaming_cluster_map_capped.  word_count_topn rotates out"
        " (topk_sort keeps topk_orders + top_suppliers_by_nation;"
        " tokenization keeps token_counts_by_source — the identical"
        " explode+agg kernel) and fingerprint_dedup rotates out"
        " (exact_dedup keeps exact_dedup_docs; the fingerprint kernel"
        " is recomputed inside span/winnow queries).  Also gate the"
        " round-12 data-quality capability class (queries_quality.py)"
        " via dq_constraint_report — the Deequ-shape constraint report"
        " (conditional-agg pass per table + LeftSemi RI rules, with a"
        " genuinely failing constraint on the synthetic data);"
        " pivot_revenue_by_priority rotates out (grouping_surfaces"
        " keeps grouping_sets_revenue — the same partial+final hash-agg"
        " machinery; the PIVOT rendering stays oracle-checked in"
        " pytest).  All three removals stay oracle-checked in pytest"
        " and benched",
    },
    {
        "round": 14,
        "added": ["semantic_dedup_scaled"],
        "removed": ["semantic_dedup_joined"],
        "deleted": ["semantic_dedup_joined"],
        "reason": "the flat broadcast-relation SemDeDup tier that"
        " semantic_dedup_joined pinned is deleted: with corpus-scaled"
        " centroids the tier rule never chose it (k > 4096 needs"
        " n >= 2,048,500, and then n*k is past the pair-row budget), so"
        " the query existed only to run it.  The production query"
        " semantic_dedup_scaled takes the slot back (reversing round"
        " 11) with the same oracle SQL, so the semantic_dedup family"
        " keeps a member",
    },
]
