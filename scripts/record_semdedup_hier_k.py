"""Scale evidence for the fully-relational two-level SemDeDup router
at k >= 1e5 centroids (VERDICT r9 #2's recorder criterion).

At that k the closure path is structurally excluded: it would collect
~1e5 centroid rows AND ship a ~50 MB centroid matrix in every task
closure, and flat assignment would pass n*k = 2e10 fold rows.  With
the two-level tier pinned, operators/similarity.semantic_dedup picks
the relational router there (k > SEMDEDUP_CLOSURE_K_MAX): it derives
the centroid set with an exact rank cut (O(buckets) driver traffic),
broadcasts the m = ceil(sqrt(k)) ~317 Lloyd-mean supers, and moves the
k-row child relation by equi-join — n·nprobe·(k/m) candidate rows,
the O(n·sqrt(k)) term.

The run records wall time + survivor count + k under
"semdedup_hier_k1e5" in the sweep artifact (BENCH_sf10.json by
default: the 200k-vector dir is the smallest that supports k = 1e5 at
per_cluster=2).

Usage: python scripts/record_semdedup_hier_k.py [--dir .scaledata/sf10]
           [--per-cluster 2] [--out BENCH_sf10.json]
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
    ap.add_argument("--dir", default=os.path.join(REPO, ".scaledata", "sf10"))
    ap.add_argument("--per-cluster", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_sf10.json"))
    ap.add_argument("--key", default="semdedup_hier_k1e5")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark(app_name="semdedup-hier-k")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(4 * spark.sparkContext.defaultParallelism),
    )
    emb = load_table(spark, args.dir, "embeddings")
    n = emb.count()
    k = max(16, n // args.per_cluster)
    t0 = time.time()
    survivors = semantic_dedup(
        emb, centroids=args.per_cluster, tier="two_level"
    ).count()
    wall = round(time.time() - t0, 2)
    row = {
        "dir": args.dir,
        "n_vectors": n,
        "k": k,
        "per_cluster": args.per_cluster,
        "survivors": survivors,
        "sec": wall,
        "note": "fully-relational two-level router (Lloyd-mean supers, "
        "nprobe=2, broadcast supers + shuffled child equi-join, no O(k) "
        "driver collect anywhere) — the only runnable SemDeDup form at "
        "this k; flat assignment would be n*k = "
        f"{n * k:.1e} fold rows",
    }
    print(json.dumps(row), flush=True)
    artifact = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            artifact = json.load(f)
    artifact[args.key] = row
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=2)


if __name__ == "__main__":
    main()
