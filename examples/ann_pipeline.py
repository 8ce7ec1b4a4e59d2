"""End-to-end similarity-search pipeline over the embeddings table.

The full ANN lifecycle a production retrieval system runs, composed
from this engine's operators — index training, compression, search,
and quality measurement, each an oracle- or agreement-checked
component:

  1. train        — distributed integer-exact Lloyd's k-means
                    (operators/kmeans.py) builds the IVF coarse index
  2. compress     — product-quantization codes (64 floats -> 4 codes)
  3. search       — three paths over the same corpus:
                      exact      cosine_topk        (the baseline)
                      trained    ivf_trained_topk   (k-means lists)
                      static     ivf_topk           (sampled lists)
  4. measure      — recall@5 of each approximate path vs the baseline

Run:  python examples/ann_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from flink_repartition_watermark_example_spark import get_spark
from flink_repartition_watermark_example_spark.operators import kmeans as KM
from flink_repartition_watermark_example_spark.operators import similarity as SIM
from flink_repartition_watermark_example_spark.sources.tables import load_table


def topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ann-pipeline")
    emb = load_table(spark, sf_dir, "embeddings")

    t0 = time.perf_counter()
    cents = KM.train(emb)
    print(f"1. trained {len(cents)} IVF centroids "
          f"({KM.ITERS} Lloyd's iterations, {time.perf_counter() - t0:.1f}s)")

    n_codes = SIM.pq_codes(emb).count()
    print(f"2. PQ-compressed {n_codes} vectors (64 floats -> "
          f"{SIM.PQ_SUBSPACES} codes each)")

    paths = {
        "exact (cosine_topk)": SIM.cosine_topk,
        "trained IVF (ivf_trained_topk)": KM.ivf_trained_topk,
        "static IVF (ivf_topk)": SIM.ivf_topk,
    }
    results, times = {}, {}
    for name, fn in paths.items():
        t0 = time.perf_counter()
        results[name] = topk_sets(fn(emb))
        times[name] = time.perf_counter() - t0

    exact = results["exact (cosine_topk)"]
    print("3/4. search + recall@5 vs exact:")
    for name in paths:
        r = results[name]
        hits = sum(len(exact[q] & r.get(q, set())) for q in exact)
        total = sum(len(exact[q]) for q in exact)
        print(f"   {name:38s} {times[name]:6.2f}s  "
              f"recall@5 = {hits / total:.2f}")


if __name__ == "__main__":
    main()
