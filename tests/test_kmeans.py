"""Training contracts for the integer-quantized distributed k-means
(operators/kmeans.py); exact oracle parity is covered by the
parametrized oracle test over kmeans_centroids / ivf_trained_topk."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators import kmeans as KM
from flink_repartition_watermark_example_spark.sources.tables import load_table


def _sse(emb, cents) -> int:
    """Total within-cluster squared distance (integer, exact) — the
    same int64 numpy distance kernel the trainer uses."""
    cids, C = KM._cent_arrays(cents)

    def f(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = KM._quantize_np(pdf["embedding"])
            d = KM._dists_int(Q, C).min(axis=1)
            yield pd.DataFrame({"d": [int(d.sum())]})

    return (
        emb.select("embedding")
        .mapInPandas(f, "d long")
        .agg(F.sum("d"))
        .collect()[0][0]
    )


def test_lloyds_iterations_never_increase_sse(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    seed = KM.initial_centroids(emb)
    sse_prev = _sse(emb, seed)
    for it in (1, KM.ITERS):
        trained = KM.train(emb, iters=it)
        sse = _sse(emb, trained)
        assert sse <= sse_prev, f"SSE rose at iter {it}: {sse_prev} -> {sse}"
        sse_prev = sse


def test_trained_ivf_returns_full_topk_per_query(spark, sf_dir):
    out = KM.ivf_trained_topk(load_table(spark, sf_dir, "embeddings"))
    per_q = {r["query_id"]: r["n"] for r in out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(per_q) == 10
    assert all(n == 5 for n in per_q.values())


def test_train_memo_hits_and_fingerprint_busts(spark, sf_dir, tmp_path):
    """The trained-quantizer artifact: same source + iters returns the
    SAME artifact without retraining; rewriting the source file (new
    mtime/size) busts the key; in-memory relations are never stored."""
    from flink_repartition_watermark_example_spark import artifacts
    from flink_repartition_watermark_example_spark.operators import kmeans as KM
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    def train_keys():
        return [k for k in artifacts._MEMO if k.kind == "train"]

    emb = load_table(spark, sf_dir, "embeddings")
    artifacts.release()
    first = KM.train(emb)
    assert len(train_keys()) == 1
    again = KM.train(load_table(spark, sf_dir, "embeddings"))
    assert again is first  # memo hit, no second Lloyd pass
    assert len(train_keys()) == 1

    # fingerprint: a REWRITTEN source (same path, new bytes) re-trains
    p = str(tmp_path / "emb.parquet")
    emb.limit(40).write.mode("overwrite").parquet(p)
    k1 = artifacts.frame_key("train", spark.read.parquet(p), KM.ITERS)
    emb.limit(40).write.mode("overwrite").parquet(p)
    k2 = artifacts.frame_key("train", spark.read.parquet(p), KM.ITERS)
    assert k1 != k2

    # in-memory relation: no stable identity -> no memo key
    mem = spark.createDataFrame(
        [(1, [0.0] * KM.DIM)], "vec_id bigint, embedding array<double>"
    )
    assert artifacts.frame_key("train", mem, KM.ITERS) is None
    artifacts.release()


def test_train_on_filtered_relation_equals_fresh_fit(spark, sf_dir):
    """A filter over the same files is a different relation: training
    it after a full-corpus train must fit the filtered rows, not return
    the full corpus's centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = KM.train(emb)
    filt = emb.where(F.col("vec_id") % 2 == 0)
    got = KM.train(filt)
    # an in-memory copy has no input files, so it is always fitted afresh
    fresh = KM.train(spark.createDataFrame(filt.collect(), filt.schema))
    assert got == fresh
    assert got != full


def test_quantize_and_distance_kernels_match_expression_path(spark, sf_dir):
    """ADVICE r12 #4: _sse computes SSE with the trainer's own kernels,
    so the kernels need an INDEPENDENT witness — the Spark-expression
    quantize + zip_with/aggregate integer distance fold (the pre-r12
    production path) must match _quantize_np/_dists_int bit-for-bit on
    a small input."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(24)
    rows = emb.collect()
    cents = [
        (int(r["vec_id"]), [int(x) for x in q])
        for r, q in [
            (rows[i], KM._quantize_np(
                __import__("pandas").Series([rows[i]["embedding"]])
            )[0])
            for i in (0, 1, 2)
        ]
    ]
    cids, C = KM._cent_arrays(cents)

    # kernel path
    import pandas as pd

    Q = KM._quantize_np(pd.Series([r["embedding"] for r in rows]))
    D_kernel = KM._dists_int(Q, C)

    # independent expression path: quantized() (the Spark expression
    # encoder) + an interpreted zip_with/aggregate fold per centroid
    qdf = KM.quantized(emb)
    expr_dists = {}
    for j, (cid, cv) in enumerate(cents):
        arr = "array(" + ",".join(f"{x}L" for x in cv) + ")"
        fold = (
            f"aggregate(zip_with(q, {arr}, (x, y) -> (x - y) * (x - y)), "
            f"0L, (acc, v) -> acc + v)"
        )
        for r in qdf.selectExpr("vec_id", f"{fold} AS d").collect():
            expr_dists[(int(r["vec_id"]), j)] = int(r["d"])
    for i, r in enumerate(rows):
        for j in range(len(cents)):
            assert D_kernel[i, j] == expr_dists[(int(r["vec_id"]), j)], (
                i, j, D_kernel[i, j], expr_dists[(int(r["vec_id"]), j)],
            )
