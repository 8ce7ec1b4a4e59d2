"""Similarity search over the ``embeddings`` table (north-star
surface): exact cosine top-k as the correctness baseline, and the LSH,
IVF and PQ approximate paths beside it.

Scale shapes:
- Exact top-k, IVF top-k and the IVF recall pair share ONE fold-exact
  scan (`_fold_topk_scan`).  The query batch — and for IVF the
  centroids and each query's probe ranks — is collected once on the
  driver; each Arrow batch of corpus vectors is scored in a single
  mapInPandas pass and only that batch's top-k per query leaves it (a
  map-side combine), so the ranking window sees O(k·batches·|Q|) rows
  however large the corpus is.  No join, no shuffle of the corpus
  beyond the fan-out; at 100 TB it's one corpus scan per query batch.
- The LSH path buckets both sides by hyperplane sign-bits first, so
  candidate generation is an equi-join on bucket id — sublinear
  per-query work at the cost of recall.  The hyperplanes are
  *compile-time constants* (seeded md5 → ±1 components) so the same
  plan is reproducible everywhere, including in the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_repartition_watermark_example_spark.functions.vectors import as_double, cosine, dot, norm
from flink_repartition_watermark_example_spark.scale import fan_out

EMBED_DIM = 64
NUM_PLANES = 4  # 16 LSH buckets


def _plane_component(p: int, i: int) -> float:
    """Deterministic ±1.0 hyperplane component — md5-seeded so every
    engine (and every build) derives the identical planes."""
    h = hashlib.md5(f"hp{p}d{i}".encode()).hexdigest()
    return 1.0 if int(h[:15], 16) % 2 == 1 else -1.0


def hyperplanes(num_planes: int = NUM_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    return [[_plane_component(p, i) for i in range(dim)] for p in range(num_planes)]


def bucket_col(vec, planes: list[list[float]]):
    """LSH bucket id: bit p = sign of <vec, plane_p>."""
    b = F.lit(0)
    for p, plane in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(c) for c in plane]))
        b = b + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return b


def cosine_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Exact top-k: for each query vector (vec_id < num_queries), the k
    nearest corpus vectors (vec_id >= num_queries) by cosine, vec_id as
    the deterministic tiebreak.

    One pass of `_fold_topk_scan` scores every corpus row against the
    collected query batch and keeps each Arrow batch's top-k per
    query; the shared window ranks the survivors.  The corpus never
    joins anything, and the doubles are the DuckDB oracle's (the
    scan's fold-exact kernels)."""
    return _topk_cos(_fold_topk_scan(emb, num_queries, k), k)


def lsh_ann_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via the LSH coarse index — the scale path for
    `cosine_topk`.  Corpus vectors are bucketed once by hyperplane
    sign-bits; each query multi-probes its own bucket plus all
    Hamming-distance-1 buckets (flip one of NUM_PLANES bits), so only
    ~(1+NUM_PLANES)/2^NUM_PLANES of the corpus is scored per query
    instead of all of it.

    Scale shape: the probe list (|Q|·(1+NUM_PLANES) rows) is broadcast;
    candidate generation is a broadcast hash join on bucket id — the
    corpus is scanned once, never shuffled, and per-query work is
    sublinear in corpus size.  Recall < 1 by construction; the exact
    `cosine_topk` is the correctness baseline.

    Bucketing and scoring run through the fold-exact numpy kernels
    (see the kernel section below): bit-identical doubles to the
    interpreted bucket_col/cosine folds and the DuckDB oracle, at
    Arrow-batch throughput."""
    planes = planes or hyperplanes()
    raw = emb.select("vec_id", as_double("embedding").alias("v"))
    q = _bucketize_fold(raw.where(F.col("vec_id") < num_queries), planes).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nqv"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(len(planes))
                ],
            )
        ).alias("probe"),
    )
    c = _bucketize_fold(
        fan_out(raw.where(F.col("vec_id") >= num_queries), "vec_id"), planes
    )
    return _topk_cos(
        _score_pairs(c.join(F.broadcast(q), F.col("probe") == F.col("bucket"))), k
    )


def neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.25,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: same LSH bucket AND cosine ≥
    threshold.  Candidate generation is an equi-join on bucket id —
    never an all-pairs cross product.  Bucketing and pair scoring run
    through the fold-exact numpy kernels: the hoisted per-side norms
    produce the same doubles as cosine()'s inline norms (identical
    fold sequence), so the oracle hash is unchanged."""
    planes = planes or hyperplanes()
    v = _bucketize_fold(
        fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v")),
        planes,
    ).localCheckpoint(eager=True)
    a, b = v.alias("a"), v.alias("b")
    joined = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("a.v").alias("qv"),
        F.col("a.nv").alias("nqv"),
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.v").alias("v"),
        F.col("b.nv").alias("nv"),
    )
    return (
        _score_pairs(joined)
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            "cos_sim",
        )
        .where(F.col("cos_sim") >= threshold)
    )


# IVF coarse index: deterministic "sampled" centroids (corpus rows at
# fixed vec_ids — no Lloyd iterations, so every engine and the SQL
# oracle derive the identical index) and a 2-list probe.
CENTROID_IDS = [10 + 13 * j for j in range(16)]
NPROBE = 2
# The PRODUCTION probe width (VERDICT r10 #5): NPROBE=2 is the cheap
# gate/bench configuration (its absolute recall@5 vs exact cosine is
# ~0.2-0.3 — fine for a hash-checked plan, wrong for a user sizing an
# index); the recall-vs-nprobe curve recorded by
# scripts/record_nprobe_recall.py (BENCH_local.json "nprobe_recall")
# shows where mean recall@5 crosses 0.9, and this constant is that
# measured crossing: 15/16 at sf0.01 (0.92), 12/16 at sf0.1 (0.94) —
# near-exhaustive because the synthetic embeddings are ISOTROPIC, so
# recall grows ~linearly with the probed fraction (the textbook IVF
# floor when the coarse quantizer finds no cluster structure).  On
# real clustered embeddings the crossing sits far lower; the curve
# artifact, not this constant, is what a user sizing an index reads.
# ann_recall_ivf_production + tests/test_similarity_ann.py pin >= 0.9
# at this width.
IVF_PRODUCTION_NPROBE = 15

# SemDeDup's corpus-size lever (Abbas et al. 2023, §SemDeDup): cluster
# count grows with the corpus so the quadratic-within-cluster pairing
# stays ~per_cluster comparisons per vector.  k = max(16, n // 500)
# keeps the gate-scale configs at the fixed-16 floor (identical to the
# historical sweep rows) while sf1+ scales k linearly — measured in
# BENCH_sf100.json semdedup_scaled_k: 2M vectors at k=4000 in 1188 s
# vs ~25 h extrapolated at k=16.
SEMDEDUP_PER_CLUSTER = 500

# Closure-matrix ceiling: with k centroids of EMBED_DIM doubles the
# task closure carries k*64*8 bytes; 4096 keeps that under ~2 MB (fine
# to serialize per task batch).  Above it assignment is two-level, and
# the router's centroids ship as a broadcast RELATION instead — one
# torrent transfer per executor, no per-task closure cost, no O(k)
# driver collect.
SEMDEDUP_CLOSURE_K_MAX = 4096

# Pair-row budget for FLAT assignment.  Flat assignment scores every
# (vector, centroid) pair — n*k cosines — so its regime ends long
# before the centroid set is large: at sf100 the centroid set is a
# harmless 2 MB (k=4000), but 2M vectors x 4000 = 8e9 pairs: a flat
# kernel that materialized them as Arrow rows was killed after 40 min
# (BENCH_sf100.json.fenced_out post-mortem).  Measured brackets at
# dim 64: 8e7 pair rows (sf10) ran flat in 87 s; the two-level router
# ran the 8e9-pair corpus in ~480 s.  5e8 places the switch at the
# measured regime boundary (~500 s of flat work extrapolating
# linearly — right where O(n*sqrt(k)) routing takes over).  Above the
# budget :func:`semantic_dedup` routes assignment through the
# two-level router (VERDICT r11 #1); results then follow the router's
# documented IVF boundary trade (purge recall 0.991 at sf1, 0.999 at
# sf10 vs flat) instead of requiring the user to know the regime map.
#
# The budget bounds assignment, not the purge.  The purge materializes
# one list_id group in one Python worker (FlatMapGroupsInPandasExec),
# so its per-group memory is the group's vectors — m*d*8 bytes for a
# cluster of m vectors at dimension d — plus cosine slabs capped at
# SEMDEDUP_PURGE_SLAB_BYTES each (the kernel derives its row block from
# m; _fold_dot_matrix holds about three slab-sized arrays at once).
# m is what the corpus-scaled k bounds (~SEMDEDUP_PER_CLUSTER on
# evenly spread data); a skewed cluster grows the vector term only.
SEMDEDUP_PAIRROW_BUDGET = 500_000_000
SEMDEDUP_PURGE_SLAB_BYTES = 32 * 1024 * 1024


def exact_kth_smallest(df: DataFrame, col: str, k: int, buckets: int = 128,
                       direct_limit: int = 100_000):
    """Exact k-th smallest value of a (distinct-valued) column with
    O(buckets) driver traffic per level — the distributed rank cut
    that replaces driver-side collects for 'first k by key' sets over
    SPARSE ids (id arithmetic is banned here: scaled dirs stride ids).

    Each level: approxQuantile proposes bucket bounds (approximate is
    fine — only used to NARROW), one aggregate counts rows <= each
    bound EXACTLY, the bucket containing rank k is isolated, and the
    search recurses into it with the residual rank.  Once the slice is
    under ``direct_limit`` rows a bounded TakeOrdered finishes.  Ties:
    callers pass unique-valued columns (vec_id); with duplicates the
    result is still AN exact k-th order statistic, but the <= cutoff
    filter may admit extra equal rows."""
    total = df.count()
    if not 1 <= k <= total:
        raise ValueError(f"rank {k} out of range for {total} rows")
    while total > direct_limit:
        bounds = df.stat.approxQuantile(col, [i / buckets for i in range(1, buckets)], 0.001)
        bounds = sorted(set(bounds))
        counts = df.agg(
            *[
                F.sum((F.col(col) <= F.lit(b)).cast("long")).alias(f"c{i}")
                for i, b in enumerate(bounds)
            ]
        ).collect()[0]
        lo, base = None, 0
        hi = None
        for i, b in enumerate(bounds):
            if counts[f"c{i}"] >= k:
                hi = b
                lo = bounds[i - 1] if i else None
                base = counts[f"c{i-1}"] if i else 0
                break
        if hi is None:  # rank k lies above the last proposed bound
            lo, base = bounds[-1], counts[f"c{len(bounds)-1}"]
        sliced = df.where(F.col(col) > F.lit(lo)) if lo is not None else df
        if hi is not None:
            sliced = sliced.where(F.col(col) <= F.lit(hi))
        new_total = (counts[f"c{bounds.index(hi)}"] - base) if hi is not None else total - base
        if new_total >= total:  # degenerate bounds (all-equal slice): stop narrowing
            break
        df, k, total = sliced, k - base, new_total
    row = df.orderBy(col).limit(k).agg(F.max(col).alias("m")).collect()[0]
    return row["m"]


# --- fold-exact numpy kernels ---------------------------------------------
# IEEE 754 double ops are deterministic: the SEQUENCE of operations
# fixes the bit pattern, not the engine.  functions.vectors.dot is the
# left fold acc ← acc + (x_j · y_j) (and DuckDB's list_reduce seeds
# with the first element, equal because 0.0 + x == x exactly).  These
# kernels run the IDENTICAL per-row operation sequence — one multiply,
# one add per dimension, in dimension order — but vectorized ACROSS
# rows with numpy, so they are bit-identical to the interpreted
# expression folds (asserted in tests/test_similarity_ann.py) at
# ~50× the throughput.  np.matmul/BLAS would reorder the additions
# (pairwise/SIMD summation) and break value-hash parity.


def _fold_dot_matrix(V, C):
    """(n,d) × (m,d) → (n,m) dots, left-fold order per (row, centroid)."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(V.shape[1]):
        acc = acc + V[:, j : j + 1] * C[None, :, j]
    return acc


def _fold_dot_rows(A, B):
    """Row-wise dots of two (n,d) matrices, left-fold order per row."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _fold_norm(V):
    """Row norms sqrt(Σx²) in left-fold order (sqrt is correctly
    rounded under IEEE 754, so it too is engine-independent)."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * V[:, j]
    return np.sqrt(acc)


def _score_pairs(joined: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Shared fold-exact scoring stage: a joined candidate relation
    with (query_id, qv, nqv, vec_id, v, nv) → (query_id, vec_id,
    cos_sim), cos = dot/(nqv·nv) in the expression fold's exact
    operation order, one Arrow pass, no shuffle.  `carry` names long
    columns of the input passed through unchanged (e.g. list_id for
    the diversified variant)."""
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            Q = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
            cos = _fold_dot_rows(Q, V) / (
                pdf["nqv"].to_numpy() * pdf["nv"].to_numpy()
            )
            out = {
                "query_id": pdf["query_id"],
                "vec_id": pdf["vec_id"],
                "cos_sim": cos,
            }
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = "query_id long, vec_id long, cos_sim double" + "".join(
        f", {c} long" for c in carry
    )
    return joined.mapInPandas(batches, schema=schema)


def _bucketize_fold(vdf: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Fold-exact LSH bucketing stage: (vec_id, v) → (vec_id, v, nv,
    bucket) where bit p of bucket is sign(<v, plane_p>) with the
    projection computed in the expression fold's exact operation
    order — bit-identical to bucket_col's interpreted dots."""
    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            proj = _fold_dot_matrix(V, P)
            bucket = ((proj > 0).astype(np.int64) << np.arange(P.shape[0])).sum(
                axis=1
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "nv": _fold_norm(V),
                    "bucket": bucket,
                }
            )

    return vdf.mapInPandas(
        batches, schema="vec_id long, v array<double>, nv double, bucket long"
    )


def _centroids(emb: DataFrame):
    return _collect_centroids(
        emb.where(F.col("vec_id").isin(CENTROID_IDS)).select(
            F.col("vec_id").alias("centroid_id"), as_double("embedding").alias("cv")
        )
    )


def ivf_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = NPROBE,
    corpus_pred=None,
    per_list_top1: bool = False,
) -> DataFrame:
    """Approximate top-k via an IVF-flat coarse index — the k-means-
    family counterpart of `lsh_ann_topk`.  Index build collects the 16
    centroid vectors to the driver (tiny, the classic broadcast-model
    pattern); each query probes its `nprobe` nearest lists, so only
    ~nprobe/16 of the corpus is scored per query.  Assignment and
    scoring are one `_fold_topk_scan` pass: the corpus is scanned once
    and never joined.

    Scale shape: at 100 TB the index build samples/trains centroids
    once and ships them in the task closure exactly as here.  Recall <
    1 by construction; `cosine_topk` is the exact baseline.

    Filtered search: `corpus_pred` restricts the INDEXED side only —
    queries and centroids always come from the full table, so the
    index geometry is stable and the predicate lands in the parquet
    scan under the scan's kernel (pre-filter, not post-filter:
    non-matching rows are never decoded, assigned, or scored).  The
    probe widens by the inverse selectivity (see `_fold_topk_scan`).

    `per_list_top1` is diversified retrieval: only the best hit per
    probed list enters the final ranking, so the top-k spans k
    DISTINCT coarse cells (the cheap, fully-distributed stand-in for
    MMR-style diversification — cells are the diversity buckets the
    index already maintains); the result gains a `list_id` column.

    Parity: every double is bit-identical to both the interpreted
    expression folds (`ivf_topk_hof`, the retained cross-check) and
    the DuckDB oracle's list_reduce."""
    scored = _fold_topk_scan(
        emb, num_queries, k, (nprobe,), corpus_pred, per_list_top1
    )
    if not per_list_top1:
        return _topk_cos(scored, k)
    best = _topk_cos(scored, 1, ("query_id", "list_id"), ("list_id",))
    return _topk_cos(best, k, carry=("list_id",))


def _topk_cos(
    scored: DataFrame,
    k: int,
    by: tuple[str, ...] = ("query_id",),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(cos desc, vec_id asc) top-k per `by` group of a (query_id,
    vec_id, cos_sim) relation — the one ranking of every cosine
    top-k; `carry` names columns kept in the result."""
    w = Window.partitionBy(*by).orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", *carry, "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_scored_pair(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe_approx: int = IVF_PRODUCTION_NPROBE,
    corpus_pred=None,
) -> tuple[DataFrame, DataFrame]:
    """(approx_topk, exact_topk) for the SAMPLED-index recall queries
    from ONE corpus scan: `_fold_topk_scan` keeps both sides' per-batch
    survivors, so each side is bit-identical to the independent
    ``ivf_topk(nprobe=nprobe_approx, corpus_pred=...)`` and
    ``cosine_topk`` over the same corpus.  The survivor relation
    (O(k·batches·|Q|) rows) is pinned: the recall join's branches would
    otherwise re-run the scan per branch."""
    survivors = _fold_topk_scan(
        emb, num_queries, k, (nprobe_approx, None), corpus_pred
    ).localCheckpoint(eager=True)
    approx, exact = (
        _topk_cos(survivors.where(F.col("side") == side), k) for side in (0, 1)
    )
    return approx, exact


def _collect_queries(emb: DataFrame, num_queries: int):
    """(query ids, query matrix) of the query batch, ascending id — |Q|
    is small by contract (a query *batch*, not the corpus); the corpus
    side never collects."""
    import numpy as np

    rows = sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in emb.where(F.col("vec_id") < num_queries)
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    qids = np.array([qid for qid, _ in rows], dtype=np.int64)
    Q = np.array([v for _, v in rows] or np.zeros((0, EMBED_DIM)), dtype=np.float64)
    return qids, Q


def _desc_order(cos, vid):
    """Indices ordering rows by (cos desc, vec_id asc) as Spark orders
    doubles — NaN above every value, -0.0 equal to 0.0 — so a per-batch
    cut keeps exactly the rows the ranking window would."""
    import numpy as np

    nan = np.isnan(cos)
    return np.lexsort((vid, -np.where(nan, 0.0, cos), ~nan))


def _fold_topk_scan(
    emb: DataFrame,
    num_queries: int,
    k: int,
    nprobes: tuple[int | None, ...] = (None,),
    corpus_pred=None,
    per_list: bool = False,
) -> DataFrame:
    """The one scoring pass behind `cosine_topk`, `ivf_topk` and
    `ivf_scored_pair`: (query_id, vec_id, cos_sim, side[, list_id])
    survivors of a single mapInPandas scan over the corpus (vec_id >=
    num_queries, filtered by ``corpus_pred``) against the query batch
    (vec_id < num_queries of the FULL table, collected once).

    Side i holds, per Arrow batch and query, the batch's top-k under
    (cos desc, vec_id asc) among the rows in the query's ``nprobes[i]``
    nearest IVF lists (every row when ``nprobes[i]`` is None) — with
    ``per_list``, instead the top-1 of each probed (query, list), and
    the rows carry their list_id.  Every row the global ranking keeps
    is its batch's top-k (top-1 of its list) too, so ranking the
    survivors with `_topk_cos` is exact: the map-side top-k combine
    (Incremental Top-K Similarity Search, EDBT 2020), in fold-exact
    arithmetic.

    Cosines are dot/(nv·nq) in the expression fold's operation order
    (`_fold_dot_matrix`, `_fold_norm`), so the doubles equal the DuckDB
    oracle's list_reduce.  A corpus row's list is the argmax first-win
    over ascending-id centroids (== `_closure_assignment`); a query's
    probe rank of a list is the driver-side (cos desc, centroid_id
    asc) order.  Centroids come from the full table.  With
    ``corpus_pred`` each probe widens by the inverse selectivity
    (VERDICT r9 #5: a selective predicate thins every list, measured
    0.8/5 mean hits at fixed nprobe): nprobe' = min(#lists,
    ceil(nprobe · total / kept)), integer-exact as in the oracle, from
    two counts over the same pushed-filter scan.

    Memory per task: one Arrow batch of vectors plus its (batch × |Q|)
    and (batch × #lists) cosine matrices; the driver holds |Q| and the
    centroids."""
    import numpy as np
    import pandas as pd

    qids, Q = _collect_queries(emb, num_queries)
    nq = _fold_norm(Q)
    corpus = emb.where(corpus_pred) if corpus_pred is not None else emb
    probed = [None] * len(nprobes)  # per side: (|Q|, #lists) bool mask
    cids = C = cnorms = None
    if any(p is not None for p in nprobes):
        cents = _centroids(emb)
        cids = np.array([cid for cid, _ in cents], dtype=np.int64)
        C = np.array([cv for _, cv in cents], dtype=np.float64)
        cnorms = _fold_norm(C)
        qcos = _fold_dot_matrix(Q, C) / (nq[:, None] * cnorms[None, :])
        rank = np.empty(qcos.shape, dtype=np.int64)
        for i in range(len(qids)):
            rank[i, np.lexsort((cids, -qcos[i]))] = np.arange(1, len(cids) + 1)
        if corpus_pred is not None:
            total = emb.where(F.col("vec_id") >= num_queries).count()
            kept = corpus.where(F.col("vec_id") >= num_queries).count()
            if kept == 0:
                raise ValueError("corpus_pred filters out every corpus vector")
            nprobes = tuple(
                p if p is None else min(len(cids), (p * total + kept - 1) // kept)
                for p in nprobes
            )
        probed = [p if p is None else rank <= p for p in nprobes]

    def survivors(it):
        for pdf in it:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vid = pdf["vec_id"].to_numpy()
            nv = _fold_norm(V)
            cos = _fold_dot_matrix(V, Q) / (nv[:, None] * nq[None, :])
            if C is not None:
                lists = np.argmax(
                    _fold_dot_matrix(V, C) / (nv[:, None] * cnorms[None, :]), axis=1
                )
            take, take_q, take_side = [], [], []
            for side, ok in enumerate(probed):
                for qi in range(len(qids)):
                    rows = (
                        np.arange(len(vid)) if ok is None
                        else np.flatnonzero(ok[qi, lists])
                    )
                    rows = rows[_desc_order(cos[rows, qi], vid[rows])]
                    if per_list:
                        rows = rows[np.unique(lists[rows], return_index=True)[1]]
                    else:
                        rows = rows[:k]
                    take.append(rows)
                    take_q.append(np.full(len(rows), qi))
                    take_side.append(np.full(len(rows), side))
            rows, qs = np.concatenate(take), np.concatenate(take_q)
            out = {
                "query_id": qids[qs],
                "vec_id": vid[rows],
                "cos_sim": cos[rows, qs],
                "side": np.concatenate(take_side),
            }
            if per_list:
                out["list_id"] = cids[lists[rows]]
            yield pd.DataFrame(out)

    schema = "query_id long, vec_id long, cos_sim double, side long" + (
        ", list_id long" if per_list else ""
    )
    return (
        fan_out(corpus.where(F.col("vec_id") >= num_queries), "vec_id")
        .select("vec_id", as_double("embedding").alias("v"))
        .mapInPandas(survivors, schema=schema)
    )


def ivf_topk_hof(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = NPROBE,
) -> DataFrame:
    """The pure-expression form of `ivf_topk` — every cosine an
    interpreted higher-order fold (zip_with/aggregate), no Python
    anywhere.  Retained as the bit-equality cross-check for the
    fold-exact numpy kernels (tests/test_similarity_ann.py asserts
    collect()-level float equality between the two paths) and as the
    reference rendering of the left-fold parity contract.  ~5× slower
    than `ivf_topk` at sf0.1; not registered."""
    import math

    cents = _centroids(emb)

    def _py_norm(cv: list[float]) -> float:
        acc = 0.0
        for x in cv:
            acc += x * x
        return math.sqrt(acc)

    cnorms = {cid: _py_norm(cv) for cid, cv in cents}

    def ranked_lists(vec_col, norm_col):
        # array<struct<s: cosine, nc: -centroid_id>> sorted descending:
        # cosine desc, then centroid_id asc — same order as the oracle's
        # ROW_NUMBER() OVER (ORDER BY cos DESC, centroid_id ASC).
        # cos = dot / (norm_v · norm_c): same operand order as cosine().
        structs = [
            F.struct(
                (
                    dot(vec_col, F.array(*[F.lit(x) for x in cv]))
                    / (norm_col * F.lit(cnorms[cid]))
                ).alias("s"),
                F.lit(-cid).cast("long").alias("nc"),
            )
            for cid, cv in cents
        ]
        return F.sort_array(F.array(*structs), False)

    v = emb.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "nv", norm(F.col("v"))
    )
    corpus = fan_out(v.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id",
        "v",
        "nv",
        (
            -F.element_at(ranked_lists(F.col("v"), F.col("nv")), 1).getField("nc")
        ).alias("list_id"),
    )
    q = v.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nqv"),
        F.explode(
            F.slice(ranked_lists(F.col("v"), F.col("nv")), 1, nprobe)
        ).alias("probe"),
    ).select("query_id", "qv", "nqv", (-F.col("probe.nc")).alias("list_id"))
    scored = corpus.join(F.broadcast(q), "list_id").select(
        "query_id",
        "vec_id",
        # dot/(norm(qv)·norm(v)) with both norms reused — operand order
        # identical to cosine(qv, v)
        (dot(F.col("qv"), F.col("v")) / (F.col("nqv") * F.col("nv"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# --- product quantization -------------------------------------------------
# PQ geometry: 64-dim vectors → 4 subspaces × 16 dims, 8 codewords per
# subspace (3 bits), codebook = fixed corpus rows (deterministic
# "sampled" training, same device as the IVF centroids) — each vector
# compresses 64 floats → 4 small ints.  At 100 TB this is the standard
# memory story for ANN: the corpus lives in RAM as codes, full vectors
# stay on disk for reranking.
PQ_SUBSPACES = 4
PQ_SUBDIM = 16  # EMBED_DIM // PQ_SUBSPACES
PQ_CODEBOOK_IDS = [20 + 7 * j for j in range(8)]


def _l2sq(a, b):
    """Left-fold squared L2 distance — same fold order as the DuckDB
    list_reduce twin, so the doubles (and hence the argmin codes) are
    bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_l2sq_matrix(V, C):
    """(n,d) × (m,d) → (n,m) squared L2 distances, fold order per
    (row, codeword) identical to `_l2sq`'s zip_with-then-fold: one
    subtract, one multiply, one add per dimension, in order."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        d = V[:, i : i + 1] - C[None, :, i]
        acc = acc + d * d
    return acc


def _pq_codebook(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """The 8 codebook rows (codeword id, vector), ascending id — the
    order the encode argmin's first-win tie-break relies on."""
    return sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in emb.where(F.col("vec_id").isin(PQ_CODEBOOK_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )


def _pq_encode(V, C):
    """(n, EMBED_DIM) vectors → (n, PQ_SUBSPACES) codebook-row indices:
    the per-subspace fold-exact `_fold_l2sq_matrix` argmin, first-win
    over ascending-id rows == (d asc, cid asc)."""
    import numpy as np

    codes = np.empty((V.shape[0], PQ_SUBSPACES), dtype=np.int64)
    for j in range(PQ_SUBSPACES):
        sub = slice(j * PQ_SUBDIM, (j + 1) * PQ_SUBDIM)
        codes[:, j] = np.argmin(_fold_l2sq_matrix(V[:, sub], C[:, sub]), axis=1)
    return codes


def pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, code0..code3): per-subspace nearest-codeword ids
    (ties → smaller codeword id).  The codebook is collected once
    (8 rows) and shipped in the task closure; encoding is one
    Arrow-batched scan through `_pq_encode`, so the integer codes are
    bit-identical to the interpreted expression path (`pq_codes_hof`,
    the retained cross-check) and the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    cb = _pq_codebook(emb)
    cids = np.array([cid for cid, _ in cb], dtype=np.int64)
    C = np.array([cv for _, cv in cb], dtype=np.float64)

    def encode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            codes = cids[_pq_encode(V, C)]
            out = {"vec_id": pdf["vec_id"]}
            for j in range(PQ_SUBSPACES):
                out[f"code{j}"] = codes[:, j]
            yield pd.DataFrame(out)

    v = fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v"))
    schema = "vec_id long, " + ", ".join(
        f"code{j} long" for j in range(PQ_SUBSPACES)
    )
    return v.mapInPandas(encode, schema=schema)


def pq_codes_hof(emb: DataFrame) -> DataFrame:
    """Pure-expression encode path (the original formulation) kept as
    the cross-check for `pq_codes`'s kernel: 32 interpreted `_l2sq`
    folds per row, exact same codes."""
    cb = _pq_codebook(emb)
    v = fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v"))
    cols = ["vec_id"]
    for j in range(PQ_SUBSPACES):
        sub = F.slice(F.col("v"), j * PQ_SUBDIM + 1, PQ_SUBDIM)
        ranked = F.sort_array(
            F.array(
                *[
                    F.struct(
                        _l2sq(
                            sub,
                            F.array(
                                *[
                                    F.lit(x)
                                    for x in cv[j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
                                ]
                            ),
                        ).alias("d"),
                        F.lit(cid).cast("long").alias("cid"),
                    )
                    for cid, cv in cb
                ]
            )
        )
        cols.append(F.element_at(ranked, 1).getField("cid").alias(f"code{j}"))
    return v.select(*cols)


def pq_adc_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over the PQ-compressed corpus: the
    query keeps its full vector, each corpus vector is its 4 codes,
    and distance ≈ Σ_j L2²(query_sub_j, codeword(code_j)),
    floor-quantized per subspace to integers (floor(d·1e9)), so the
    sum is order-independent and oracle-exact; ties break by vec_id.

    The per-query distance table (|Q|·SUBSPACES·8 integers) is built
    once on the driver and shipped in the task closure.  The whole
    encode → lookup → rank pipeline is ONE mapInPandas pass: per Arrow
    batch the codes are `_pq_encode`'s argmins, the ADC distances are
    4 integer table lookups summed, and only the batch's top-k per
    query survives (map-side combine) — no exploded codes relation, no
    join, no shuffle before the final O(k·batches·|Q|)-row window.  At
    100 TB the codes stand in for vectors ~60× larger; approximation
    error vs `cosine_topk` is the PQ quantization error."""
    import numpy as np
    import pandas as pd

    cb = _pq_codebook(emb)
    C = np.array([cv for _, cv in cb], dtype=np.float64)
    qids, Q = _collect_queries(emb, num_queries)
    # DT[q, j, c] = floor(1e9 · l2sq(Q_sub_j, C_sub_j[c]))
    DT = np.zeros((len(qids), PQ_SUBSPACES, len(cb)), dtype=np.int64)
    for j in range(PQ_SUBSPACES):
        sub = slice(j * PQ_SUBDIM, (j + 1) * PQ_SUBDIM)
        DT[:, j, :] = np.floor(
            _fold_l2sq_matrix(Q[:, sub], C[:, sub]) * 1e9
        ).astype(np.int64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vec_ids = pdf["vec_id"].to_numpy()
            codes = _pq_encode(M, C)
            # ADC: dist[q, row] = Σ_j DT[q, j, codes[row, j]]
            dist = np.zeros((len(qids), len(M)), dtype=np.int64)
            for j in range(PQ_SUBSPACES):
                dist += DT[:, j, codes[:, j]]
            kk = min(k, len(M))
            sel = [np.lexsort((vec_ids, dist[qi]))[:kk] for qi in range(len(qids))]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk),
                    "vec_id": np.concatenate([vec_ids[s] for s in sel]),
                    "dist_q": np.concatenate(
                        [dist[qi][s] for qi, s in enumerate(sel)]
                    ),
                }
            )

    corpus = fan_out(emb.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cand = corpus.mapInPandas(
        score, schema="query_id long, vec_id long, dist_q long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_q").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "dist_q", F.col("rank").cast("long").alias("rank")
        )
    )


# --- SemDeDup ---------------------------------------------------------------
# One entry point (semantic_dedup) and its assignment stage
# (semantic_assign, which the cluster-size histograms call).  The
# assignment tier is a data decision made in ONE place, _choose_tier.
# The three kernels below stay separate private functions because
# each is another's bit-equality reference in the tests: two-level
# closure == two-level relation, and two-level at full probe == flat.

SEMDEDUP_TIERS = ("closure", "two_level")


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.25,
    centroids: list[int] | int | None = None,
    tier: str | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign EVERY vector to its nearest coarse
    centroid (the IVF index doubles as the clustering), then within
    each cluster purge any vector whose cosine to a LOWER-id
    cluster-mate is >= threshold — the min-id representative of each
    epsilon-ball survives.  Returns the surviving (vec_id, list_id).

    ``centroids`` picks the clustering (see :func:`semantic_assign`):
    None for the fixed CENTROID_IDS index, a list of vec_ids for an
    explicit set, or an int ``per_cluster`` for the corpus-scaled set
    (the first max(16, n // per_cluster) vec_ids >= 10, ascending —
    the production config, SEMDEDUP_PER_CLUSTER).  ``tier`` pins the
    assignment tier; None lets the data decide (:func:`_choose_tier`).

    Scale shape: candidate pairing is per list_id, quadratic only
    within a cluster — the centroid count is the corpus-size lever.
    Never all-pairs across clusters.

    Parity: assignment and purge run the fold-exact kernels, so
    doubles are bit-identical to the DuckDB oracle's list_reduce folds
    and the >= threshold cut is exact."""
    # persist(): the purge is the assignment's only consumer, so this
    # is not about fan-in.  Spark's CacheManager matches a later
    # persist() of an identical plan to this one, so repeated calls in
    # one session (a re-run query, every pass of a benchmark that does
    # not clearCache) reuse the first call's assignment instead of
    # re-running the Arrow kernel.  No eager count(): the purge's job
    # fills the cache on a miss, and the count cost two jobs per call.
    assigned = semantic_assign(emb, centroids, tier, nprobe).persist()
    return _purge_within_lists(assigned, threshold)


def semantic_assign(
    emb: DataFrame,
    centroids: list[int] | int | None = None,
    tier: str | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup's nearest-centroid assignment: (vec_id, v, nv,
    list_id) for every row of ``emb``, ties broken (cos DESC,
    centroid_id ASC).

    Centroids are corpus rows.  ``centroids`` None means the fixed
    CENTROID_IDS index; a list names the vec_ids explicitly (every one
    must be present — a filtered corpus that lost centroid rows would
    otherwise cluster differently than the caller believes, so missing
    ids raise); an int ``per_cluster`` derives the corpus-scaled set,
    the first max(16, n // per_cluster) eligible vec_ids (>= 10, the
    query-row convention) clamped to the eligible count — the set the
    oracle computes from fixed SQL.

    Tiers (``tier`` pins one; None lets :func:`_choose_tier` decide):
    - "closure": flat, exact nearest centroid, the centroid matrix
      ships in the task closure;
    - "two_level": one fold-exact Lloyd round builds ceil(sqrt(k))
      mean supers, each vector probes its top-``nprobe`` supers and
      picks the nearest centroid among their children — O(n*sqrt(k))
      folds.  Deterministic (the DuckDB hier CTEs reproduce it
      hash-exactly) but it may differ from flat near cluster
      boundaries, the IVF coarse-quantizer trade.  Its centroids ship
      in the closure up to SEMDEDUP_CLOSURE_K_MAX and as a broadcast
      relation above it (no O(k) driver collect).

    An unpinned call with more than SEMDEDUP_CLOSURE_K_MAX centroids
    (only an explicit id list can have that many below the pair-row
    budget) therefore gets two-level routing, not exact flat
    assignment; ``tier="closure"`` keeps it flat."""
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    n, k, derive = _centroid_set(emb, centroids)
    if k < 1:
        raise ValueError("no eligible centroid rows (vec_id >= 10) in the corpus")
    tier, closure = _choose_tier(n, k, tier)
    vectors = fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v"))
    cent = derive(closure)
    if not closure:
        return _two_level_joined_assignment(vectors, cent, k, nprobe)
    cents = _collect_centroids(cent)
    if tier == "two_level":
        return _two_level_assignment(vectors, cents, nprobe)
    return _closure_assignment(vectors, cents)


def _choose_tier(n: int, k: int, tier: str | None = None) -> tuple[str, bool]:
    """The SemDeDup tier rule — the only code that reads
    SEMDEDUP_CLOSURE_K_MAX and SEMDEDUP_PAIRROW_BUDGET.  Returns
    (tier, closure): closure says the centroids ship as a task-closure
    matrix rather than a broadcast relation.

    Unpinned: the flat closure tier when k <= SEMDEDUP_CLOSURE_K_MAX
    and n*k <= SEMDEDUP_PAIRROW_BUDGET, else two-level.  Two-level
    ships its centroids in the closure up to SEMDEDUP_CLOSURE_K_MAX and
    as a relation above it; a pinned closure tier always uses the
    closure."""
    if tier is None:
        flat = k <= SEMDEDUP_CLOSURE_K_MAX and n * k <= SEMDEDUP_PAIRROW_BUDGET
        tier = "closure" if flat else "two_level"
    elif tier not in SEMDEDUP_TIERS:
        raise ValueError(f"tier must be one of {SEMDEDUP_TIERS} or None, got {tier!r}")
    return tier, tier == "closure" or k <= SEMDEDUP_CLOSURE_K_MAX


def _centroid_set(emb: DataFrame, centroids: list[int] | int | None):
    """(n, k, derive) for :func:`semantic_assign`'s ``centroids``: the
    corpus size, the centroid count, and derive(closure) → the
    (centroid_id, cv) relation.  One aggregate job gives n (and the
    eligible or present count); derive(True) is a relation meant to be
    collected (one ordered TakeOrdered job for the scaled set), while
    derive(False) keeps the centroids in the engine — the scaled set
    via an exact distributed rank cut, O(buckets) driver traffic and
    no O(k) collect (VERDICT r9 #2)."""
    if isinstance(centroids, int):
        per_cluster = centroids
        if per_cluster < 1:
            raise ValueError("per_cluster must be >= 1")
        row = emb.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("vec_id") >= 10, 1)).alias("eligible"),
        ).collect()[0]
        n = int(row["n"])
        # clamped to the eligible count (sparse ids: n - 10 is not it),
        # so the closure and relation derivations agree on every input
        k = min(max(16, n // per_cluster), int(row["eligible"]))
        elig = emb.where(F.col("vec_id") >= 10)

        def derive(closure: bool) -> DataFrame:
            if closure:
                picked = elig.orderBy("vec_id").limit(k)
            else:
                cutoff = exact_kth_smallest(elig.select("vec_id"), "vec_id", k)
                picked = elig.where(F.col("vec_id") <= F.lit(cutoff))
            return picked.select(
                F.col("vec_id").alias("centroid_id"), as_double("embedding").alias("cv")
            )

        return n, k, derive

    ids = sorted(set(centroids if centroids is not None else CENTROID_IDS))
    if not ids:
        raise ValueError("centroids must be non-empty (or None for defaults)")
    present = F.col("vec_id").isin(ids)
    row = emb.agg(
        F.count(F.lit(1)).alias("n"), F.count(F.when(present, 1)).alias("present")
    ).collect()[0]
    if row["present"] != len(ids):
        found = {r["vec_id"] for r in emb.where(present).select("vec_id").collect()}
        raise ValueError(
            f"centroid vec_ids missing from the input corpus: "
            f"{sorted(set(ids) - found)} — semantic_dedup requires every "
            "centroid row to be present; pass centroids= with ids that "
            "exist in this relation"
        )
    rel = emb.where(present).select(
        F.col("vec_id").alias("centroid_id"), as_double("embedding").alias("cv")
    )
    return int(row["n"]), len(ids), lambda closure: rel


def _collect_centroids(cent: DataFrame) -> list[tuple[int, list[float]]]:
    """A (centroid_id, cv) relation as driver rows, ascending id — the
    order every closure kernel's first-win argmax tie-break relies on."""
    return sorted((r["centroid_id"], list(r["cv"])) for r in cent.collect())


def _closure_assignment(
    vectors: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Flat closure tier: (vec_id, v) → (vec_id, v, nv, list_id), the
    centroid matrix shipped in the task closure, one shuffle-free
    fold-exact Arrow pass.  Also the streaming twin's kernel."""
    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    cnorms = _fold_norm(C)

    def assign_top1(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv = _fold_norm(V)
            cos = _fold_dot_matrix(V, C) / (nv[:, None] * cnorms[None, :])
            # argmax first-win on exact ties == (cos desc, centroid_id
            # asc): centroids are scanned in ascending-id order
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "nv": nv,
                    "list_id": cids[np.argmax(cos, axis=1)],
                }
            )

    return vectors.mapInPandas(
        assign_top1, schema="vec_id long, v array<double>, nv double, list_id long"
    )


def _score_candidates(cand: DataFrame) -> DataFrame:
    """Fold-exact cosine per (vector, candidate-centroid) ROW: a
    joined relation with (vec_id, v, centroid_id, cv) → (vec_id, nv,
    centroid_id, cos) in the expression fold's exact operation order —
    bit-identical per pair to _fold_dot_matrix's (row, centroid)
    cells, so join-based assignment reproduces the closure path's
    doubles exactly.  One Arrow pass, no shuffle."""
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            nv = _fold_norm(V)
            cos = _fold_dot_rows(V, C) / (nv * _fold_norm(C))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "nv": nv,
                    "centroid_id": pdf["centroid_id"],
                    "cos": cos,
                }
            )

    return cand.mapInPandas(
        batches, schema="vec_id long, nv double, centroid_id long, cos double"
    )


def _argmax_by_cos(scored: DataFrame, id_col: str) -> DataFrame:
    """(vec_id, nv, <id_col>, cos) → per-vec_id argmax with the
    (cos DESC, id ASC) tie-break as a map-side-combinable struct max —
    only one row per vec_id crosses the exchange."""
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos"),
                    (-F.col(id_col)).alias("neg_id"),
                    F.col("nv"),
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.nv").alias("nv"),
            (-F.col("b.neg_id")).alias(id_col),
        )
    )


def _lloyd_round_supers(C, cnorms):
    """One fold-exact Lloyd round over the centroid matrix: init
    supers are every m-th centroid (m = ceil(sqrt(k)) over the
    ascending-id list), each centroid routes to its nearest init
    (self-forced for the inits — an FP self-cosine is 1±ulp and could
    lose a tie, emptying a member set), and each super becomes the
    per-dim MEAN of its members in ascending-centroid-index fold
    order (acc seeded 0.0, one division by the member count) — the
    identical operation sequence the DuckDB oracle's
    list_reduce/count(*) expression runs, so the means are
    bit-reproducible.  Returns (S_means, member_parent0) — the means
    and the init membership.  Means track the local data mass, so
    child-set sizes stay far more even than raw every-m-th-id supers
    (the measured skew that made nprobe=1 routing lose below the
    crossover — VERDICT r9 #3)."""
    import math

    import numpy as np

    k = C.shape[0]
    m = int(math.ceil(math.sqrt(k)))  # float sqrt: lockstep with the oracle
    sup_idx = np.arange(0, k, m)
    S0, s0norms = C[sup_idx], cnorms[sup_idx]
    parent0 = np.argmax(
        _fold_dot_matrix(C, S0) / (cnorms[:, None] * s0norms[None, :]), axis=1
    )
    parent0[sup_idx] = np.arange(len(sup_idx))
    S = np.zeros((len(sup_idx), C.shape[1]))
    for p in range(len(sup_idx)):
        members = np.flatnonzero(parent0 == p)  # ascending centroid index
        acc = np.zeros(C.shape[1])
        for i in members:
            acc = acc + C[i]
        S[p] = acc / len(members)
    return S, parent0


def _two_level_assignment(
    vectors: DataFrame, cents: list[tuple[int, list[float]]], nprobe: int
) -> DataFrame:
    """Two-level tier, closure form: supers from ONE fold-exact Lloyd
    round (see _lloyd_round_supers), every centroid routes to its
    nearest mean, and each vector probes its top-``nprobe`` supers
    then picks the nearest centroid among their children — O(n·(sqrt(k)
    + nprobe·k/sqrt(k))) = O(n·sqrt(k)) folds instead of flat O(n·k).
    All tie-breaks are cos DESC, index ASC, so the DuckDB hier CTEs
    reproduce the assignment hash-exactly.

    Vectors rank only supers that HAVE children after the final
    routing (a mean can end up childless; probing it would strand the
    vector) — the oracle applies the same restriction.  DEGENERACY
    CONTRACT, pinned by tests: with nprobe >= the (non-empty) super
    count every centroid is a candidate for every vector, so the
    routing collapses to exactly flat assignment."""
    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    cnorms = _fold_norm(C)
    S, _ = _lloyd_round_supers(C, cnorms)
    snorms = _fold_norm(S)
    # final routing: EVERY centroid (inits included) to its nearest
    # mean — argmax first-win over ascending super index == (cos DESC,
    # super_idx ASC)
    parent = np.argmax(
        _fold_dot_matrix(C, S) / (cnorms[:, None] * snorms[None, :]), axis=1
    )
    children = [np.flatnonzero(parent == p) for p in range(S.shape[0])]
    nonempty = np.array(
        [p for p in range(S.shape[0]) if children[p].size], dtype=np.int64
    )
    S_act, s_act_norms = S[nonempty], snorms[nonempty]

    probe = min(nprobe, len(nonempty))

    def assign_two_level(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv = _fold_norm(V)
            sup_cos = _fold_dot_matrix(V, S_act) / (
                nv[:, None] * s_act_norms[None, :]
            )
            # top-`probe` supers per row via repeated first-win argmax
            # (each round == next rank of (cos DESC, super_idx ASC),
            # restricted to non-empty supers like the oracle)
            p_mat = np.empty((len(V), probe), dtype=np.int64)
            for t in range(probe):
                p_mat[:, t] = np.argmax(sup_cos, axis=1)
                sup_cos[np.arange(len(V)), p_mat[:, t]] = -np.inf
            lists = np.empty(len(V), dtype=np.int64)
            # group rows by their (sorted) probed-super set — candidate
            # centroids depend only on the set
            combos = np.sort(p_mat, axis=1)
            for combo in np.unique(combos, axis=0):
                rows = np.flatnonzero((combos == combo).all(axis=1))
                ch = np.sort(
                    np.concatenate(
                        [children[nonempty[p]] for p in np.unique(combo)]
                    )
                )  # ascending cidx == ascending centroid_id tiebreak
                cos = _fold_dot_matrix(V[rows], C[ch]) / (
                    nv[rows, None] * cnorms[ch][None, :]
                )
                lists[rows] = cids[ch[np.argmax(cos, axis=1)]]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "nv": nv, "list_id": lists}
            )

    return vectors.mapInPandas(
        assign_two_level,
        schema="vec_id long, v array<double>, nv double, list_id long",
    )


def _two_level_joined_assignment(
    vectors: DataFrame, cent_df: DataFrame, k: int, nprobe: int
) -> DataFrame:
    """Two-level tier with every stage RELATIONAL — the form for
    k > SEMDEDUP_CLOSURE_K_MAX, where the closure form's O(k) driver
    collect and per-task centroid matrix are exactly the bottlenecks
    VERDICT r9 #2 banned.  Bit-identical to :func:`_two_level_assignment`
    (tests/test_semdedup_joined.py): same Lloyd-mean supers in the
    same fold order, same tie-breaks realized as struct-max aggregates
    and (cos DESC, id ASC) windows.

    Stage shapes, for k centroids / m = ceil(sqrt(k)) supers:
    - centroid ranking: a global row_number over the k-row id column
      (narrow: ids only, one bounded task — k ~ n/500), joined back;
    - init membership + final routing: k×m candidate rows through the
      fold kernel, argmax aggregate (only k rows cross the exchange);
    - Lloyd means: applyInPandas over m groups of the k-row relation;
    - vector probing: n×m narrow score rows, top-nprobe window
      partitioned by vec_id;
    - candidates: equi-join on sidx (children) + vec_id (vectors) —
      n·nprobe·(k/m) rows, the O(n·sqrt(k)) term.
    The m-row mean-super relation broadcasts; the k-row child relation
    moves by shuffle — nothing scales with n on the build side."""
    import math

    import numpy as np
    import pandas as pd

    m = int(math.ceil(math.sqrt(k)))  # float sqrt: lockstep everywhere

    ranked = cent_df.select("centroid_id").withColumn(
        "cidx", F.row_number().over(Window.orderBy("centroid_id")) - 1
    )
    cent = cent_df.join(ranked, "centroid_id")  # (centroid_id, cv, cidx)

    init = cent.where(F.col("cidx") % m == 0).select(
        (F.col("cidx") / m).cast("long").alias("sidx"),
        F.col("centroid_id").alias("init_id"),
        F.col("cv").alias("iv"),
    )

    # init membership: non-init centroids score every init (k×m rows),
    # argmax (cos DESC, sidx ASC); inits self-parent
    noninit_scored = _score_candidates(
        cent.where(F.col("cidx") % m != 0)
        .select(F.col("centroid_id").alias("vec_id"), F.col("cv").alias("v"))
        .crossJoin(
            F.broadcast(
                init.select(F.col("sidx").alias("centroid_id"), F.col("iv").alias("cv"))
            )
        )
    ).withColumnRenamed("centroid_id", "sidx")
    memb = (
        _argmax_by_cos(noninit_scored, "sidx")
        .select(F.col("vec_id").alias("centroid_id"), "sidx")
        .unionByName(init.select(F.col("init_id").alias("centroid_id"), "sidx"))
        .join(cent.select("centroid_id", "cv"), "centroid_id")
    )

    def mean_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("centroid_id")
        M_ = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
        acc = np.zeros(M_.shape[1])
        for i in range(M_.shape[0]):  # ascending centroid_id fold
            acc = acc + M_[i]
        return pd.DataFrame(
            {"sidx": [int(pdf["sidx"].iloc[0])], "sv": [list(acc / M_.shape[0])]}
        )

    sup = memb.groupBy("sidx").applyInPandas(
        mean_kernel, schema="sidx long, sv array<double>"
    )

    # final routing: EVERY centroid to its nearest mean
    childs = (
        _argmax_by_cos(
            _score_candidates(
                cent.select(
                    F.col("centroid_id").alias("vec_id"), F.col("cv").alias("v")
                ).crossJoin(
                    F.broadcast(
                        sup.select(
                            F.col("sidx").alias("centroid_id"),
                            F.col("sv").alias("cv"),
                        )
                    )
                )
            ).withColumnRenamed("centroid_id", "sidx"),
            "sidx",
        )
        .select(F.col("vec_id").alias("centroid_id"), "sidx")
        .join(cent.select("centroid_id", "cv"), "centroid_id")
    )

    asup = sup.join(childs.select("sidx").distinct(), "sidx")

    vprobe_scored = _score_candidates(
        vectors.crossJoin(
            F.broadcast(
                asup.select(F.col("sidx").alias("centroid_id"), F.col("sv").alias("cv"))
            )
        )
    ).withColumnRenamed("centroid_id", "sidx")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("sidx").asc()
    )
    probed = (
        vprobe_scored.withColumn("rs", F.row_number().over(w))
        .where(F.col("rs") <= nprobe)
        .select("vec_id", "sidx")
    )

    cand = probed.join(vectors, "vec_id").join(
        childs.select("sidx", "centroid_id", F.col("cv")), "sidx"
    )
    best = _argmax_by_cos(
        _score_candidates(cand.select("vec_id", "v", "centroid_id", "cv")),
        "centroid_id",
    )
    return vectors.join(
        best.select("vec_id", "nv", F.col("centroid_id").alias("list_id")),
        "vec_id",
    )


def _purge_survivors(V, nv, fresh, threshold: float, slab_bytes: int):
    """Row indices of the surviving FRESH rows of one cluster, rows
    sorted by vec_id.  Fresh row j is purged when some row i has
    cos(i, j) >= threshold and either i is not fresh (an indexed row,
    any id) or i is an earlier fresh row (lower id).  With every row
    fresh this is exactly SemDeDup's lower-id rule.

    Only fresh columns are scored, in row blocks sized so each
    (block, fresh) cosine slab stays under ``slab_bytes``.  Blocking
    cannot change the result: every cell is its own left fold."""
    import numpy as np

    cols = np.flatnonzero(fresh)
    if len(cols) == 0:
        return cols
    Vf, nf = V[cols], nv[cols]
    block = max(1, slab_bytes // (8 * len(cols)))
    purged = np.zeros(len(cols), dtype=bool)
    for i0 in range(0, len(V), block):
        i1 = min(i0 + block, len(V))
        cos = _fold_dot_matrix(V[i0:i1], Vf) / (nv[i0:i1, None] * nf[None, :])
        can = ~fresh[i0:i1, None] | (cols[None, :] > np.arange(i0, i1)[:, None])
        purged |= ((cos >= threshold) & can).any(axis=0)
    return cols[~purged]


def _purge_within_lists(assigned: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup's purge over an assigned (vec_id, v, nv, list_id)
    relation: within each list_id, drop every vector with a
    >= threshold cosine to a LOWER-id cluster-mate; the min-id
    representative of each epsilon-ball survives.  An optional boolean
    ``fresh`` column marks the rows to judge (the streaming twin's new
    rows); rows with fresh = false are already-indexed mates that
    purge any fresh row they match and are never emitted.  Without the
    column every row is fresh.  Never all-pairs across clusters.

    ONE grouped Arrow kernel per cluster (r13): grouping ships each
    vector ONCE — O(n·d) Arrow bytes instead of the former pair
    self-join's O(pairs·d) — and the kernel emits survivors directly
    (no distinct, no anti-join).  Bit-equality: cell (i, j) of the
    blocked _fold_dot_matrix pass is the identical left-fold operation
    sequence as _score_pairs' per-pair _fold_dot_rows, and IEEE
    multiplication is commutative, so the cosines equal the pair
    path's — pinned by tests/test_semdedup_joined.py
    test_grouped_purge_bit_identical_to_pair_join_path.  Per-group
    memory: see SEMDEDUP_PAIRROW_BUDGET."""
    import numpy as np

    slab_bytes = SEMDEDUP_PURGE_SLAB_BYTES  # read on the driver: workers re-import the module

    def purge(pdf):
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        keep = _purge_survivors(
            np.stack(pdf["v"].to_numpy()).astype(np.float64),
            pdf["nv"].to_numpy(),
            pdf["fresh"].to_numpy(dtype=bool),
            threshold,
            slab_bytes,
        )
        return pdf.loc[keep, ["vec_id", "list_id"]]

    if "fresh" not in assigned.columns:
        assigned = assigned.withColumn("fresh", F.lit(True))
    return (
        assigned.select("vec_id", "nv", "list_id", "v", "fresh")
        .groupBy("list_id")
        .applyInPandas(purge, schema="vec_id long, list_id long")
    )
