"""Distributed linear algebra over the ``embeddings`` table: one-pass
integer Gram accumulation and the PCA spectrum derived from it.

The 100 TB pattern: second-moment structure (covariance, PCA, whitening)
over an embedding corpus is a SINGLE streaming pass — each partition
reduces its rows to one d x d Gram contribution, the contributions sum
into O(d^2) cells, and everything downstream (eigendecomposition,
projection matrices) is driver-side math on that tiny relation.  No
shuffle ever carries vector rows; the exchange moves O(partitions * d^2)
accumulator rows.

Float discipline (the repo-wide oracle contract): components are
floor-quantized to integers BEFORE any accumulation, so the Gram cells
are EXACT integers — identical regardless of partitioning, batch order,
or engine.  numpy's int64 matmul inside the Arrow batch is exact; the
cross-batch reduction is an exact long sum.  The alternative (float64
partial Gram) is the textbook rendering but its cell values depend on
row order — unusable under a bit-exact DuckDB compare.  Doubles derived
from the integer cells stay exact below 2^53: sum_prod <= 3.4e7 * n
(|xq| <= 5.8e3 with Q=1e4), so the derived covariance is deterministic
through n ~ 2.6e8 vectors (sf ~ 13,000) and the bound is asserted.

Reference parity note: the reference engine (Flink 1.0 Scala,
Main.scala:21-29) has no linear-algebra surface; this module is part of
the large-scale-training-pipeline extension the engine adds on top.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from flink_repartition_watermark_example_spark.scale import fan_out

EMBED_DIM = 64
GRAM_Q = 10000.0  # component quantizer — matches queries_similarity._DIM_Q

GRAM_SCHEMA = StructType(
    [
        StructField("dim_i", LongType()),
        StructField("dim_j", LongType()),
        StructField("n", LongType()),
        StructField("sum_i", LongType()),
        StructField("sum_j", LongType()),
        StructField("sum_prod", LongType()),
    ]
)


def int_gram(
    emb: DataFrame,
    col: str = "embedding",
    q: float = GRAM_Q,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Exact integer Gram accumulator: one row per (dim_i <= dim_j)
    cell with the count, per-dimension quantized sums, and the
    quantized product sum — everything needed to derive the centered
    covariance matrix without a second pass.

    Per Arrow batch: stack vectors, quantize (floor(x * q) — the same
    double chain the SQL oracle applies, so cells agree bit-for-bit),
    one int64 matmul, emit the upper triangle.  The downstream groupBy
    is map-side combined into O(d^2) rows.
    """
    iu, ju = np.triu_indices(dim)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x = np.stack(pdf[col].to_numpy()).astype(np.float64)
            xq = np.floor(x * q).astype(np.int64)
            g = xq.T @ xq  # exact: |xq| <= 5.8e3, batch <= 10k rows
            s = xq.sum(axis=0)
            n = np.int64(len(pdf))
            yield pd.DataFrame(
                {
                    "dim_i": iu.astype(np.int64),
                    "dim_j": ju.astype(np.int64),
                    "n": np.full(len(iu), n),
                    "sum_i": s[iu],
                    "sum_j": s[ju],
                    "sum_prod": g[iu, ju],
                }
            )

    src = (
        fan_out(emb, "vec_id").select(col)
        if "vec_id" in emb.columns
        else emb.select(col)
    )
    return (
        src.mapInPandas(batches, GRAM_SCHEMA)
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_i").cast("long").alias("sum_i"),
            F.sum("sum_j").cast("long").alias("sum_j"),
            F.sum("sum_prod").cast("long").alias("sum_prod"),
        )
    )


def covariance_from_gram(rows, dim: int = EMBED_DIM, q: float = GRAM_Q):
    """Driver-side: assemble the centered covariance matrix (in
    ORIGINAL units, /q^2) from collected Gram cells.  Input is the
    O(d^2) relation — the only thing that ever reaches the driver."""
    n = rows[0]["n"]
    assert abs(max(abs(r["sum_prod"]) for r in rows)) < 2**53, (
        "integer Gram cell left the exact-double range — raise Q scale "
        "handling before trusting derived covariances"
    )
    c = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        i, j = r["dim_i"], r["dim_j"]
        cov = r["sum_prod"] / n - (r["sum_i"] / n) * (r["sum_j"] / n)
        c[i, j] = cov
        c[j, i] = cov
    return c / (q * q), n


_PCA_MEMO: dict = {}


def _pca_key(emb: DataFrame, dim: int, q: float):
    """Memo identity: session + source files with (size, mtime)
    fingerprints — the kmeans.train discipline; a regenerated dir must
    not serve a stale basis.  None (no memo) for in-memory relations.

    The ANALYZED LOGICAL PLAN hash is part of the key (ADVICE r12 #2):
    inputFiles alone would let pca_components(emb.where(...)) silently
    reuse a full-corpus basis fitted earlier over the same files — any
    filter/projection on the relation must miss the memo and fit its
    own basis.  It is Catalyst's ``semanticHash`` of the canonicalized
    plan, which drops the per-read exprIds (two loads of the IDENTICAL
    query share the memo) and, unlike the plan string, is not cut off
    at ``spark.sql.debug.maxToStringFields`` (ADVICE r13 #2)."""
    import os

    files = sorted(emb.inputFiles())
    if not files:
        return None
    fps = []
    for f in files:
        p = f[len("file:") :] if f.startswith("file:") else f
        try:
            st = os.stat(p)
            fps.append((f, st.st_size, st.st_mtime_ns))
        except OSError:
            fps.append((f, None, None))
    return (
        emb.sparkSession.sparkContext.applicationId,
        tuple(fps),
        emb._jdf.queryExecution().analyzed().semanticHash(),
        int(dim),
        float(q),
    )


def pca_components(emb: DataFrame, dim: int = EMBED_DIM, q: float = GRAM_Q):
    """Full PCA fit: (eigenvalues desc, eigenvectors as columns in the
    same order, n).  Same one-pass integer Gram as
    :func:`pca_spectrum`; the eigenvectors are the O(d^2) driver-side
    artifact a projection/whitening stage broadcasts back through the
    corpus.

    Memoized per (session, source fingerprint, dim, q) — the fitted
    basis is an INDEX ARTIFACT refreshed on the build cadence, exactly
    like the trained k-means centroids (kmeans.train): the spectrum
    and projection queries probing the same corpus share one Gram
    pass per session (r12)."""
    key = _pca_key(emb, dim, q)
    hit = _PCA_MEMO.get(key) if key is not None else None
    if hit is not None:
        return hit
    rows = int_gram(emb, q=q, dim=dim).collect()  # O(d^2) rows
    c, n = covariance_from_gram(rows, dim=dim, q=q)
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    # sign convention: largest-|component| entry positive, so the
    # basis is a pure function of the covariance (eigh's signs are
    # arbitrary)
    for k in range(vecs.shape[1]):
        j = np.argmax(np.abs(vecs[:, k]))
        if vecs[j, k] < 0:
            vecs[:, k] = -vecs[:, k]
    if key is not None:
        _PCA_MEMO[key] = (vals, vecs, n)
    return vals, vecs, n


def project_moments(
    emb: DataFrame,
    basis: np.ndarray,
    col: str = "embedding",
    q: float = GRAM_Q,
) -> DataFrame:
    """Apply-side of the PCA fit: project every vector onto ``basis``
    (d x r, broadcast through the Arrow closure — the train-on-
    aggregate / apply-by-broadcast pattern) and return EXACT integer
    first/second moments of the projected coordinates, one row per
    component: (component, n, sum_q, sumsq_q).

    Same float discipline as the Gram: each projected coordinate is
    floor-quantized before accumulation, so the moments are exact
    integers and the derived variances deterministic.  The projection
    itself is a per-row (1 x d) @ (d x r) — no shuffle, no driver
    traffic beyond the O(r) output rows."""
    r = basis.shape[1]
    b = basis.copy()

    schema = StructType(
        [
            StructField("component", LongType()),
            StructField("n", LongType()),
            StructField("sum_q", LongType()),
            StructField("sumsq_q", LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        comp = np.arange(r, dtype=np.int64)
        for pdf in it:
            if pdf.empty:
                continue
            x = np.stack(pdf[col].to_numpy()).astype(np.float64)
            yq = np.floor((x @ b) * q).astype(np.int64)
            yield pd.DataFrame(
                {
                    "component": comp,
                    "n": np.full(r, np.int64(len(pdf))),
                    "sum_q": yq.sum(axis=0),
                    "sumsq_q": (yq * yq).sum(axis=0),
                }
            )

    src = (
        fan_out(emb, "vec_id").select(col)
        if "vec_id" in emb.columns
        else emb.select(col)
    )
    return (
        src.mapInPandas(batches, schema)
        .groupBy("component")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_q").cast("long").alias("sum_q"),
            F.sum("sumsq_q").cast("long").alias("sumsq_q"),
        )
    )


def pca_spectrum(emb: DataFrame, dim: int = EMBED_DIM, q: float = GRAM_Q):
    """Eigenvalue spectrum of the embedding covariance: the one-pass
    integer Gram (exact, order-independent) collapsed to O(d^2) rows,
    eigendecomposed on the driver.  Returns (eigenvalues desc, n).

    Determinism: the Gram cells are exact integers, the covariance
    doubles are exact below 2^53, and LAPACK ``eigvalsh`` on an
    identical matrix is reproducible on a fixed build — so the spectrum
    is a pure function of the corpus, not of partitioning."""
    rows = int_gram(emb, q=q, dim=dim).collect()  # O(d^2) = 2080 rows
    c, n = covariance_from_gram(rows, dim=dim, q=q)
    vals = np.linalg.eigvalsh(c)[::-1]
    return vals, n
