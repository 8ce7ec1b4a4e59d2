"""Invariant + twin tests for the one-pass integer Gram / PCA family
(operators/linalg.py).  The covariance query is oracle-checked in
test_queries_oracle.py; these pin what SQL can't: the Gram cells equal
a single-shot numpy computation bit-for-bit (order independence), and
the eigen spectrum obeys trace conservation and matches a full-data
numpy twin."""

from __future__ import annotations

import numpy as np
import pytest

from flink_repartition_watermark_example_spark.operators.linalg import (
    EMBED_DIM,
    GRAM_Q,
    covariance_from_gram,
    int_gram,
    pca_spectrum,
)
from flink_repartition_watermark_example_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("embedding").collect()
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_int_gram_matches_single_shot_numpy_exactly(spark, sf_dir, emb_np):
    """Distributed accumulation == one-shot computation, EXACTLY: the
    cells are integers, so any partitioning/order effect would show as
    an off-by-N, not a rounding blur."""
    xq = np.floor(emb_np * GRAM_Q).astype(np.int64)
    want_g = xq.T @ xq
    want_s = xq.sum(axis=0)
    got = int_gram(load_table(spark, sf_dir, "embeddings")).collect()
    assert len(got) == EMBED_DIM * (EMBED_DIM + 1) // 2
    for r in got:
        i, j = r["dim_i"], r["dim_j"]
        assert r["n"] == len(xq)
        assert r["sum_i"] == want_s[i], (i, j)
        assert r["sum_j"] == want_s[j], (i, j)
        assert r["sum_prod"] == want_g[i, j], (i, j)


def test_pca_spectrum_trace_and_twin(spark, sf_dir, emb_np):
    """Eigenvalues: descending, non-negative (covariance is PSD up to
    eigensolver noise), trace-conserving, and equal to the full-data
    numpy covariance spectrum of the QUANTIZED data (the same estimator
    the engine computes) to tight rtol."""
    vals, n = pca_spectrum(load_table(spark, sf_dir, "embeddings"))
    assert n == len(emb_np)
    assert all(vals[i] >= vals[i + 1] for i in range(len(vals) - 1))
    assert vals.min() > -1e-12
    xq = np.floor(emb_np * GRAM_Q) / GRAM_Q
    c = np.cov(xq, rowvar=False, bias=True)
    want = np.linalg.eigvalsh(c)[::-1]
    np.testing.assert_allclose(vals, want, rtol=1e-9, atol=1e-15)
    # trace conservation: sum of eigenvalues == total variance
    np.testing.assert_allclose(vals.sum(), np.trace(c), rtol=1e-9)


def test_covariance_from_gram_overflow_guard(spark, sf_dir):
    """The 2^53 exactness bound is asserted, not assumed."""
    rows = [
        {"dim_i": 0, "dim_j": 0, "n": 10, "sum_i": 1, "sum_j": 1,
         "sum_prod": 2**53 + 2}
    ]
    with pytest.raises(AssertionError, match="exact-double range"):
        covariance_from_gram(rows, dim=1)


def test_pca_query_registered_shape(spark, sf_dir):
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    df = EXTRA_QUERIES["embedding_pca_variance"].spark(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == EMBED_DIM
    assert [r["component"] for r in rows] == list(range(EMBED_DIM))
    # explained ratios: bounded, descending, and summing to ~1e6
    ratios = [r["explained_q6"] for r in rows]
    assert all(0 <= x <= 10**6 for x in ratios)
    assert all(ratios[i] >= ratios[i + 1] for i in range(len(ratios) - 1))
    assert 10**6 - EMBED_DIM <= sum(ratios) <= 10**6


def test_projection_reproduces_spectrum(spark, sf_dir, emb_np):
    """fit -> broadcast -> apply closes the loop: the projected
    per-component variance equals the eigenvalue, up to the coordinate
    quantization residual."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    rows = EXTRA_QUERIES["embedding_pca_project_stats"].spark(spark, sf_dir).collect()
    assert [r["component"] for r in rows] == list(range(8))
    vals, n = pca_spectrum(load_table(spark, sf_dir, "embeddings"))
    for r in rows:
        assert r["n"] == n
        var = r["var_q9"] / 1e9
        eig = vals[r["component"]]
        assert abs(var - eig) <= 1e-3 * max(eig, 1e-9) + 2e-5, (
            r["component"], var, eig,
        )
    # exact-integer moments: recompute one component single-shot
    from flink_repartition_watermark_example_spark.operators.linalg import (
        GRAM_Q,
        pca_components,
    )

    _, vecs, _ = pca_components(load_table(spark, sf_dir, "embeddings"))
    yq = np.floor((emb_np @ vecs[:, :8]) * GRAM_Q).astype(np.int64)
    want_sum = yq.sum(axis=0)
    want_sumsq = (yq * yq).sum(axis=0)
    for r in rows:
        c = r["component"]
        assert r["sum_q"] == want_sum[c], c
        assert r["sumsq_q"] == want_sumsq[c], c


def test_pca_memo_distinguishes_derived_relations(spark, sf_dir):
    # ADVICE r12 #2: a filtered relation over the SAME files must not
    # be served the full-corpus basis; two loads of the identical
    # query must share the memo (exprIds normalized).
    from flink_repartition_watermark_example_spark.artifacts import frame_key
    from flink_repartition_watermark_example_spark.sources.tables import (
        load_table,
    )

    def _pca_key(df, dim, q):
        return frame_key("pca_components", df, dim, q)

    emb = load_table(spark, sf_dir, "embeddings")
    emb2 = load_table(spark, sf_dir, "embeddings")
    filt = emb.where("vec_id % 2 = 0")
    k_full = _pca_key(emb, 64, 1024.0)
    k_full2 = _pca_key(emb2, 64, 1024.0)
    k_filt = _pca_key(filt, 64, 1024.0)
    assert k_full == k_full2
    assert k_full != k_filt


def test_pca_memo_key_sees_past_plan_string_truncation(spark, sf_dir):
    # ADVICE r13 #2: the analyzed plan's string form stops listing
    # Project columns at spark.sql.debug.maxToStringFields (25), so two
    # relations differing only in the 30th column printed identically
    # and shared one memo key.  The key now comes from semanticHash.
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.artifacts import frame_key

    def _pca_key(df, dim, q):
        return frame_key("pca_components", df, dim, q)

    emb = load_table(spark, sf_dir, "embeddings")

    def widened(df, last):
        return df.select(
            "*",
            *[F.lit(last if i == 29 else i).alias(f"c{i}") for i in range(30)],
        )

    a, b = widened(emb, 29), widened(emb, 99)
    assert "more fields" in a._jdf.queryExecution().analyzed().toString()
    assert _pca_key(a, 64, 1024.0) != _pca_key(b, 64, 1024.0)
    # the same query read twice still shares one key
    again = widened(load_table(spark, sf_dir, "embeddings"), 29)
    assert _pca_key(a, 64, 1024.0) == _pca_key(again, 64, 1024.0)
