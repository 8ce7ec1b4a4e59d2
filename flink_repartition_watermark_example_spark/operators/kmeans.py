"""Distributed Lloyd's k-means over the embeddings table, integer-
quantized for exact cross-engine reproducibility — the trained
replacement for `similarity.CENTROID_IDS`' fixed-corpus-row IVF index
(VERDICT round-2 action #5).

Why integers: a float k-means is not hash-comparable across engines
(mean summation order).  Quantizing components to micro-units
(floor(x·1e6) + OFFSET, all positive so floor-div == trunc-div in
every engine) makes each iteration exact: distances are integer sums
of squares (order-independent), new centroids are integer
floor-divided sums.  The DuckDB twin unrolls the same iterations as
CTEs and reproduces every centroid bit-for-bit.

Scale shape (the classic broadcast-model loop, like graph.py):
- centroids live on the driver between iterations (K×dim ints — tiny)
  and ship as literals into the assignment expression; the corpus is
  scanned once per iteration with NO shuffle for assignment;
- the only wide op per iteration is the (cid, dim) partial+final sum
  — Catalyst map-side-combines it, so the shuffle is O(K·dim·
  partitions), independent of corpus size;
- the per-iteration driver round-trip is K·dim integers, the same
  O(1)-per-iteration contract as graph.py's convergence scalars.

Overflow headroom: |q| ≤ ~3.2e6 (micro-units + offset); squared diffs
× 64 dims ≈ 1e15 ≪ 2^63; mean sums ≈ 3e6 × |corpus|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark import artifacts
from flink_repartition_watermark_example_spark.operators.similarity import CENTROID_IDS

SCALE = 1_000_000
OFFSET = 2_097_152  # 2^21 > max |quantized component|; keeps values positive
ITERS = 3
DIM = 64

# Production probe width for the TRAINED index: the measured 0.9-recall
# crossing of the nprobe curve for the trained-Lloyd family
# (scripts/record_nprobe_recall.py, BENCH_local.json "nprobe_recall":
# trained crosses at 12 — 0.92 at sf0.01, 0.98 at sf0.1 — where the
# sampled fixed-row index needs 15).  20% less probe work at the same
# recall bar is the payoff of one 3-iteration Lloyd pass; the trained
# family is therefore the documented production default
# (ann_recall_ivf_trained_production), with the sampled pin kept as the
# training-free fallback.
TRAINED_PRODUCTION_NPROBE = 12


def quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q: array<bigint>) — micro-unit + offset encoding."""
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (
                F.floor(x.cast("double") * F.lit(float(SCALE))).cast("bigint")
                + F.lit(OFFSET)
            ),
        ).alias("q"),
    )


def _cent_arrays(cents: list[tuple[int, list[int]]]):
    """(cids, C): the centroid set as int64 numpy arrays, rows in
    ascending-cid order (``cents`` is kept sorted), so a first-win
    argmin over C's rows IS the (dist asc, cid asc) tiebreak."""
    import numpy as np

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.int64)
    return cids, C


def _quantize_np(emb_series):
    """Micro-unit + offset encoding of an Arrow embedding column —
    the numpy twin of :func:`quantized`: float32→float64 widening is
    exact, the float64 multiply and floor are the same IEEE ops Spark
    runs, so the int64 codes are bit-identical to the expression
    form."""
    import numpy as np

    V = np.stack(emb_series.to_numpy()).astype(np.float64)
    return np.floor(V * float(SCALE)).astype(np.int64) + OFFSET


def _dists_int(Q, C, block: int = 2048):
    """(n, k) exact int64 squared-L2 distances (integer adds are
    order-independent, so any summation order gives the one true
    value; headroom documented in the module docstring).  Blocked so
    the (block, k, dim) diff temp stays ~16 MB regardless of Arrow
    batch size."""
    import numpy as np

    out = np.empty((Q.shape[0], C.shape[0]), dtype=np.int64)
    for i in range(0, Q.shape[0], block):
        d = Q[i : i + block, None, :] - C[None, :, :]
        out[i : i + block] = np.einsum("rkd,rkd->rk", d, d)
    return out


def initial_centroids(emb: DataFrame) -> list[tuple[int, list[int]]]:
    """Deterministic seeding: the same fixed corpus rows the static IVF
    index uses (similarity.CENTROID_IDS), quantized."""
    rows = (
        quantized(emb)
        .where(F.col("vec_id").isin(CENTROID_IDS))
        .select("vec_id", "q")
        .collect()
    )
    return sorted((int(r["vec_id"]), [int(x) for x in r["q"]]) for r in rows)


def _partial_sums_kernel(cents: list[tuple[int, list[int]]]):
    """mapInPandas body for one Lloyd iteration: per Arrow batch,
    quantize, assign each row to its nearest centroid, and yield the
    batch's per-(cid, pos) component sums and member counts — the
    map-side combine done in numpy (int64, exact)."""

    cids, C = _cent_arrays(cents)

    def f(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"])
            a = np.argmin(_dists_int(Q, C), axis=1)
            cid_o: list[int] = []
            pos_o: list[int] = []
            s_o: list[int] = []
            n_o: list[int] = []
            for ci in range(len(cids)):
                mask = a == ci
                m = int(mask.sum())
                if not m:
                    continue
                s = Q[mask].sum(axis=0)
                cid_o.extend([int(cids[ci])] * DIM)
                pos_o.extend(range(DIM))
                s_o.extend(int(x) for x in s)
                n_o.extend([m] * DIM)
            yield pd.DataFrame(
                {"cid": cid_o, "pos": pos_o, "s": s_o, "n": n_o}
            )

    return f


def train(emb: DataFrame, iters: int = ITERS) -> list[tuple[int, list[int]]]:
    """Lloyd's iterations; returns the final quantized centroids as
    [(centroid_id, [int]*dim)] keyed by the seed row ids.

    A session artifact keyed by (source fingerprint, plan, iters)
    (artifacts.py): the trained centroids are a K x dim integer INDEX
    ARTIFACT refreshed on the index-build cadence, not per query — a
    recall query probing the same index at two widths
    (ann_recall_ivf_trained_production) or a session running several
    trained-IVF queries pays the Lloyd pass once, exactly like
    cluster_build's shared cluster map."""
    return artifacts.get_or_build(
        emb.sparkSession,
        artifacts.frame_key("train", emb, int(iters)),
        lambda: _lloyd(emb, iters),
    )


def _lloyd(emb: DataFrame, iters: int) -> list[tuple[int, list[int]]]:
    src = emb.select("embedding")
    cents = initial_centroids(emb)
    for _ in range(iters):
        # One Arrow-batched kernel per iteration: quantize, assign
        # (first-win argmin == (dist asc, cid asc) — rows of C are in
        # ascending-cid order) and emit per-batch PARTIAL (cid, pos)
        # sums — O(K·dim) rows per batch instead of exploding the
        # corpus to n·dim rows through an interpreted per-row
        # zip_with/aggregate fold (HOF lambdas never enter whole-stage
        # codegen; the expression form cost ~10 s/iteration at sf0.1).
        # Integer sums are associative, so batch partials + the final
        # hash agg reproduce the expression plan's totals exactly.
        sums = (
            src.mapInPandas(
                _partial_sums_kernel(cents),
                schema="cid long, pos long, s long, n long",
            )
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_cid: dict[int, list[int]] = {}
        for r in sums:
            by_cid.setdefault(int(r["cid"]), [0] * DIM)[int(r["pos"])] = int(
                r["s"]
            ) // int(r["n"])
        # a centroid that lost every member keeps its previous position
        prev = dict(cents)
        cents = sorted(
            (cid, by_cid.get(cid, prev[cid])) for cid, _ in cents
        )
    return cents


def centroids_df(emb: DataFrame, iters: int = ITERS) -> DataFrame:
    """Trained centroids exploded to (centroid_id, dim, val_q) — dim is
    1-based, val_q has the offset removed.  Integer rows, exactly
    reproducible by the unrolled-CTE SQL twin."""
    cents = train(emb, iters)
    rows = [
        (cid, d + 1, int(val) - OFFSET)
        for cid, cv in cents
        for d, val in enumerate(cv)
    ]
    return emb.sparkSession.createDataFrame(
        rows, "centroid_id bigint, dim bigint, val_q bigint"
    )


def ivf_trained_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = 2,
    iters: int = ITERS,
) -> DataFrame:
    """IVF search over lists from the TRAINED centroids (vs ivf_topk's
    fixed-row index): corpus assignment is a scan-side literal-centroid
    expression, each query probes its nprobe nearest lists, candidates
    come from a broadcast equi-join on list id, and scoring is integer
    squared L2 in micro-units — every value exact across engines."""
    scored = _trained_scored(emb, num_queries, nprobe, iters)
    return _topk_from_scored(scored, k)


def _trained_scored(
    emb: DataFrame, num_queries: int, nprobe: int, iters: int
) -> DataFrame:
    """(query_id, vec_id, probe_rank, dist_q): every corpus vector in
    one of each query's ``nprobe`` nearest lists, scored by integer
    squared L2, carrying the probed list's rank for that query.

    One Arrow-batched kernel over the corpus scan does assignment,
    probe-gating and scoring: the query workload (``num_queries``
    rows — bounded by the request, not the corpus) and the K×dim
    centroid matrix ride the task closure, each query's full
    (dist asc, cid asc) centroid ranking is precomputed once on the
    driver, and a corpus row is emitted for query q iff its list's
    rank for q is <= nprobe — exactly the old broadcast equi-join on
    probed list ids, minus the join and minus the per-row interpreted
    zip_with/aggregate folds (HOF lambdas are excluded from
    whole-stage codegen; this was ~8 s of the recall query at sf0.1).
    All arithmetic is int64 (order-independent), so distances and
    tiebreaks are bit-identical to the expression form and the
    unrolled-CTE oracle."""
    import numpy as np

    cents = train(emb, iters)
    cids, C = _cent_arrays(cents)
    qrows = (
        emb.where(F.col("vec_id") < num_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([int(r["vec_id"]) for r in qrows], dtype=np.int64)
    order = np.argsort(qids)
    qids = qids[order]
    Qq = (
        np.floor(
            np.array([r["embedding"] for r in qrows], dtype=np.float64)[order]
            * float(SCALE)
        ).astype(np.int64)
        + OFFSET
    )
    # rank of each centroid (1-based) in (dist asc, cid asc) order,
    # per query — the probe_rank lookup table
    dq = _dists_int(Qq, C)
    ranks = np.empty((len(qids), len(cids)), dtype=np.int64)
    for i in range(len(qids)):
        oc = np.lexsort((cids, dq[i]))
        ranks[i, oc] = np.arange(1, len(cids) + 1)

    def f(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"])
            vid = pdf["vec_id"].to_numpy()
            a = np.argmin(_dists_int(Q, C), axis=1)
            pr = ranks[:, a]  # (n_queries, batch) probe_rank per pair
            frames = []
            for qi in range(len(qids)):
                mask = pr[qi] <= nprobe
                if not mask.any():
                    continue
                diff = Q[mask] - Qq[qi][None, :]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(
                                int(mask.sum()), qids[qi], dtype=np.int64
                            ),
                            "vec_id": vid[mask],
                            "probe_rank": pr[qi][mask],
                            "dist_q": np.einsum("rd,rd->r", diff, diff),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return emb.where(F.col("vec_id") >= num_queries).select(
        "vec_id", "embedding"
    ).mapInPandas(
        f, schema="query_id long, vec_id long, probe_rank long, dist_q long"
    )


def _topk_from_scored(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_q").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "dist_q", F.col("rank").cast("long").alias("rank")
        )
    )


def ivf_trained_topk_pair(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe_approx: int = TRAINED_PRODUCTION_NPROBE,
    iters: int = ITERS,
) -> tuple[DataFrame, DataFrame]:
    """(approx_topk, exact_topk) for the trained-IVF recall query,
    sharing ONE corpus assignment and ONE scoring pass.

    The exhaustive side probes every list, so its scored relation is a
    superset of the approx side's: a candidate is in the approx set
    iff its list's probe_rank for that query is <= nprobe_approx.
    Scoring once at full width and ranking twice is bit-identical to
    two independent ivf_trained_topk calls (same integer distances,
    same (dist, vec_id) tiebreak) but halves the assignment/scoring
    work — and the scored relation is pinned, because the recall
    join's three branches (approx, exact, exact-distinct) would
    otherwise re-execute it per branch (measured r12: the recall
    query was 9.4 s, ~4.9 s of it duplicated construction+scoring)."""
    n_lists = len(train(emb, iters))
    scored = _trained_scored(emb, num_queries, n_lists, iters).localCheckpoint(
        eager=True
    )
    approx = _topk_from_scored(
        scored.where(F.col("probe_rank") <= nprobe_approx), k
    )
    exact = _topk_from_scored(scored, k)
    return approx, exact
