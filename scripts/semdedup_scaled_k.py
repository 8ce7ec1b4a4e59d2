"""One-off scale evidence for SemDeDup's corpus-size lever.

Since round 9 the production configuration is ALSO a registered,
oracle-checked gate query: semantic_dedup_scaled (queries_similarity)
computes k = max(16, n // 500) (semantic_dedup(centroids=500)) and its DuckDB
oracle derives the identical k and centroid set from fixed SQL.  This
script remains the BIG-dir evidence runner (sf100 is too heavy for the
per-round gate) and the historical record of the measurement.

The fixed-k semantic_dedup_survivors pins k=16 centroids — at that toy
k the candidate pairing is pair-dominated and 10x vectors = ~100x
pairs (the sf1->sf10 sweep honestly records ~90x wall).  The
production answer (SemDeDup, Abbas et al. 2023, arXiv:2303.09540 —
clusters sized so within-cluster pairing stays bounded) is to grow the
centroid count with the corpus: cluster size ~= n/k, pair work
~= n * (n/k) / 2, so k ~ n/500 keeps per-vector comparisons constant.

This script runs the SAME operator (operators/similarity.semantic_dedup)
at a corpus-scaled k on the big generated dirs, with the flat closure
tier pinned (at sf100 n*k passes the pair-row budget, where the
unpinned operator would route through the two-level router), and
appends the wall time + survivor count to BENCH_sf100.json under
"semdedup_scaled_k" — evidence that the documented lever actually
holds, not just a docstring claim.

Centroids are the first k eligible vec_ids (ascending, >= 10 to avoid
the query rows convention) — deterministic, and guaranteed to exist in
the corpus as semantic_dedup requires.

Usage: python scripts/semdedup_scaled_k.py --dir .scaledata/sf100 \
           [--per-cluster 500] [--out BENCH_sf100.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_repartition_watermark_example_spark import get_spark
from flink_repartition_watermark_example_spark.operators.similarity import semantic_dedup
from flink_repartition_watermark_example_spark.sources.tables import load_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--per-cluster", type=int, default=500)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_sf100.json"))
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = get_spark(app_name="semdedup-scaled-k")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(4 * spark.sparkContext.defaultParallelism),
    )

    emb = load_table(spark, args.dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    # the registered semantic_dedup_scaled gate query derives the
    # identical centroid set, so this script measures exactly the
    # gate-checked configuration at the big dirs
    k = max(16, n // args.per_cluster)

    best, survivors = float("inf"), -1
    for _ in range(args.reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        survivors = semantic_dedup(
            emb, centroids=args.per_cluster, tier="closure"
        ).count()
        best = min(best, time.perf_counter() - t0)

    row = {
        "dir": args.dir,
        "n_vectors": n,
        "k_centroids": k,
        "per_cluster_target": args.per_cluster,
        "survivors": survivors,
        "sec": round(best, 2),
        "reps": args.reps,
        "note": "same operator as semantic_dedup_survivors, centroid "
        "count scaled k~n/500 (the documented corpus-size lever); the "
        "registered k=16 config is pair-dominated and would be "
        "~100x the sf10 wall here",
    }
    print(json.dumps(row), flush=True)
    if os.path.exists(args.out):
        with open(args.out) as f:
            artifact = json.load(f)
        artifact["semdedup_scaled_k"] = row
        with open(args.out, "w") as f:
            json.dump(artifact, f, indent=2)


if __name__ == "__main__":
    main()
