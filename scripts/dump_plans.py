"""Dump formatted physical plans for the headline queries to PLANS.md.

The plan-audit tests enforce the scale envelope mechanically; this
artifact makes the shapes human-readable in one place — which scans
prune, which joins broadcast, where the exchanges are — so a reviewer
can check the 100 TB story without running anything.

Usage: python scripts/dump_plans.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# One representative per plan family — scan+agg, star join, bucketed
# fact-fact, decorrelations, dedup chain, ANN, text, window, graph.
HEADLINE = [
    "forecast_revenue_change",      # scan pushdown + single-row agg
    "pricing_summary",              # classic partial+final hash agg
    "multi_join_revenue",           # 5-way star, broadcast dims
    "nation_market_share_bucketed", # exchange-free fact-fact (layout)
    "product_type_profit",          # Q9: 3 broadcast arms + 1 orderkey shuffle
    "waiting_suppliers",            # Q21 chained same-key decorrelation
    "potential_promotion_suppliers",# Q20 chained aggs + semi join
    "lsh_candidate_pairs",          # banded equi-join dedup chain
    "span_dedup_stats",             # near-unique-key window rank-1
    "ivf_ann_filtered_topk",        # pushed pre-filter + Arrow kernel
    "tfidf_top_terms",              # tf/df aggs + vocab join + top-k window
    "rolling_anomaly_hours",        # agg-first + partitioned frame window
    "neardup_triangles",            # degree-ordered triangle enumeration
    "pack_chunks_into_sequences",   # sharded cumsum window
    # round-10 additions
    "hard_negative_mining",         # exact positives + IVF negatives union
    "embedding_int8_quant_stats",   # exploded dims + 64-row broadcast scale join
    # round-11 additions
    "split_by_cluster",             # CC labels (checkpointed) -> md5 split bucket
    "split_by_cluster_balanced",    # two-level 256-shard prefix sum quota split
    "semantic_cluster_sizes_routed",  # router-assignment histogram (sf100 regime)
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    args = ap.parse_args()

    from flink_repartition_watermark_example_spark import get_spark
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

    all_q = {**QUERIES, **EXTRA_QUERIES}
    spark = get_spark(app_name="dump-plans")

    buf = io.StringIO()
    buf.write(
        "# PLANS — formatted physical plans of the headline queries\n\n"
        f"Generated by `scripts/dump_plans.py` at `{args.sf}` "
        "(regenerate after plan-affecting changes).  The mechanical "
        "guards live in `tests/test_plan_audit.py`; this file is the "
        "human-readable companion: check PushedFilters/ReadSchema on "
        "scans, BroadcastHashJoin on dim arms, the absence of "
        "exchanges above bucketed scans, and hash-partitioned "
        "Window nodes.\n"
    )
    for name in HEADLINE:
        q = all_q[name]
        df = q.spark(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        buf.write(f"\n## {name}\n\n```\n{plan}\n```\n")
        print(f"dumped {name}", flush=True)

    with open(args.out, "w") as f:
        f.write(buf.getvalue())
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
