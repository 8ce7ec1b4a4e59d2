"""Similarity-search query registrations with DuckDB oracles.

The oracle SQL embeds the same compile-time hyperplane constants and
the same left-fold double arithmetic as the Spark plans, so cosine
values are bit-identical across engines (verified: 100/100 exact)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_repartition_watermark_example_spark.functions.vectors import cosine_sql
from flink_repartition_watermark_example_spark.operators import similarity as SIM
from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, register, register_extra
from flink_repartition_watermark_example_spark.sources.tables import load_table


def _bucket_sql(vec: str, num_planes: int = SIM.NUM_PLANES) -> str:
    parts = []
    for p, plane in enumerate(SIM.hyperplanes(num_planes)):
        arr = "[" + ", ".join(str(c) for c in plane) + "]"
        proj = (
            f"list_reduce(list_transform(range(1, {SIM.EMBED_DIM} + 1), "
            f"i -> {vec}[i]::DOUBLE * ({arr}::DOUBLE[])[i]), (x, y) -> x + y)"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(parts)


@register(
    "cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 10),
    scored AS (
      SELECT query_id, vec_id, {cosine_sql('qv', 'v')} AS cos_sim
      FROM c CROSS JOIN q
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    doc="Exact cosine top-5 for 10 query vectors — the ANN correctness "
    "baseline: one fold-exact corpus scan against the collected query "
    "batch, keeping each Arrow batch's top-5 per query for the final "
    "window.",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.cosine_topk(load_table(spark, sf_dir, "embeddings"))


@register_extra(
    "lsh_ann_topk",
    f"""
    WITH v AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, t.probe
      FROM v, UNNEST([bucket, xor(bucket, 1), xor(bucket, 2),
                      xor(bucket, 4), xor(bucket, 8)]) AS t(probe)
      WHERE vec_id < 10
    ),
    c AS (SELECT vec_id, embedding AS cv, bucket FROM v WHERE vec_id >= 10),
    scored AS (
      SELECT query_id, c.vec_id, {cosine_sql('qv', 'cv')} AS cos_sim
      FROM q JOIN c ON c.bucket = q.probe
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    doc="Approximate top-5 via the LSH coarse index with Hamming-1 "
    "multi-probe — the sublinear scale path; cosine_topk is the exact "
    "baseline it trades recall against.",
)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.lsh_ann_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "embedding_neardup_pairs",
    f"""
    WITH v AS (
      SELECT vec_id, embedding,
             {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.25
    """,
    doc="Embedding-cosine near-dup pairs via 4-hyperplane LSH buckets "
    "(16 buckets, equi-join candidates) + cosine threshold 0.25.",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.neardup_pairs_lsh(load_table(spark, sf_dir, "embeddings"))


@register_extra(
    "embedding_neardup_pairs_8p",
    f"""
    WITH v AS (
      SELECT vec_id, embedding,
             {_bucket_sql('embedding', 8)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.25
    """,
    doc="The embedding near-dup pairs at 8 hyperplanes (256 buckets) — "
    "the PLANE COUNT is the corpus-size lever of the hashing family: "
    "within-bucket work is quadratic in bucket size, so buckets must "
    "multiply as the corpus grows (the full sf1 sweep measured the "
    "16-bucket primary at ~23 s on a 10× corpus; this variant stays "
    "scale-linear). At 100 TB you would run ~20+ planes (≥1M "
    "buckets); same operator, same oracle construction, different "
    "constant.",
)
def q_embedding_neardup_8p(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.neardup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), planes=SIM.hyperplanes(8)
    )


def _centroid_id_list() -> str:
    return ", ".join(str(c) for c in SIM.CENTROID_IDS)


def _ivf_topk_oracle(nprobe: int) -> str:
    """The IVF-flat search as SQL, parameterized by probe width —
    shared by the gate registration (SIM.NPROBE) and the production-
    recall pin (SIM.IVF_PRODUCTION_NPROBE)."""
    return f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({", ".join(str(c) for c in SIM.CENTROID_IDS)})
    ),
    corpus AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 10),
    assign AS (
      SELECT vec_id, v, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cosine_sql('v', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM corpus CROSS JOIN cent
    ),
    lists AS (SELECT vec_id, v, centroid_id AS list_id FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
    qp AS (
      SELECT query_id, qv, centroid_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY {cosine_sql('qv', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT query_id, qv, centroid_id AS list_id FROM qp
               WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.query_id, l.vec_id, {cosine_sql('p.qv', 'l.v')} AS cos_sim
      FROM probes p JOIN lists l ON l.list_id = p.list_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


@register(
    "ivf_ann_topk",
    _ivf_topk_oracle(SIM.NPROBE),
    doc="Approximate top-5 via an IVF-flat coarse index (16 sampled "
    "centroids, 2-list probe): index build collects the centroids once "
    "and ships them in the task closure; list assignment, probing and "
    "scoring are one shuffle-free map-side pass that keeps each Arrow "
    "batch's top-5 per query — the k-means-family scale path next to "
    "lsh_ann_topk's hashing-family one.",
)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ivf_topk(load_table(spark, sf_dir, "embeddings"))


@register_extra(
    "ivf_ann_filtered_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({", ".join(str(c) for c in SIM.CENTROID_IDS)})
    ),
    corpus AS (SELECT vec_id, embedding AS v FROM embeddings
               WHERE vec_id >= 10 AND label IN (0, 2, 4, 6, 8)),
    sel AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN label IN (0, 2, 4, 6, 8)
                           THEN 1 ELSE 0 END) AS BIGINT) AS kept
      FROM embeddings WHERE vec_id >= 10
    ),
    assign AS (
      SELECT vec_id, v, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cosine_sql('v', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM corpus CROSS JOIN cent
    ),
    lists AS (SELECT vec_id, v, centroid_id AS list_id FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
    qp AS (
      SELECT query_id, qv, centroid_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY {cosine_sql('qv', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT query_id, qv, centroid_id AS list_id FROM qp, sel
               WHERE qp.rn <= LEAST({len(SIM.CENTROID_IDS)},
                 ({SIM.NPROBE} * sel.total + sel.kept - 1) // sel.kept)),
    scored AS (
      SELECT p.query_id, l.vec_id, {cosine_sql('p.qv', 'l.v')} AS cos_sim
      FROM probes p JOIN lists l ON l.list_id = p.list_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    doc="FILTERED approximate search — ivf_ann_topk under a metadata "
    "predicate (even label): top-5 among only the corpus vectors "
    "that satisfy the filter, the retrieval shape behind 'nearest "
    "documents from source X / license Y'.  The predicate restricts "
    "the INDEXED side only (queries and centroids stay fixed, so the "
    "index geometry is stable) and is applied as a PRE-filter: the IN "
    "list lands in the parquet scan below the assignment stage "
    "(PushedFilters: In(label, ...)), so at 100 TB non-matching "
    "vectors are "
    "never decoded, assigned, or scored — unlike post-filtering a "
    "top-k' result, which pays full probe cost and can starve "
    "high-selectivity filters of candidates.  ADAPTIVE NPROBE "
    "(round 10): the probe width scales with the filter's inverse "
    "selectivity — nprobe' = min(#lists, ceil(nprobe * total / "
    "kept)), integer-exact in both engines — so the thinned lists "
    "still surface ~the unfiltered candidate count (the round-9 "
    "starvation number was 0.8/5 mean hits at fixed nprobe; "
    "ann_recall_filtered pins the recovery).",
)
def q_ivf_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, corpus_pred=F.col("label").isin(0, 2, 4, 6, 8))


# Probe width of the diversified search: wider than the plain top-k's
# NPROBE because each probed list contributes at most ONE result, so
# the probe set must exceed k for the final ranking to choose at all.
DIVERSE_NPROBE = 8


@register_extra(
    "ivf_diverse_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({", ".join(str(c) for c in SIM.CENTROID_IDS)})
    ),
    corpus AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 10),
    assign AS (
      SELECT vec_id, v, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cosine_sql('v', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM corpus CROSS JOIN cent
    ),
    lists AS (SELECT vec_id, v, centroid_id AS list_id FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
    qp AS (
      SELECT query_id, qv, centroid_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY {cosine_sql('qv', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT query_id, qv, centroid_id AS list_id FROM qp
               WHERE rn <= {DIVERSE_NPROBE}),
    scored AS (
      SELECT p.query_id, l.vec_id, p.list_id,
             {cosine_sql('p.qv', 'l.v')} AS cos_sim
      FROM probes p JOIN lists l ON l.list_id = p.list_id
    ),
    per_list AS (
      SELECT *, row_number() OVER (PARTITION BY query_id, list_id
                                   ORDER BY cos_sim DESC, vec_id ASC)
                AS list_rn
      FROM scored
    ),
    ranked AS (
      SELECT query_id, vec_id, list_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM per_list WHERE list_rn = 1
    )
    SELECT query_id, vec_id, CAST(list_id AS BIGINT) AS list_id,
           cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
    doc="DIVERSIFIED approximate search: top-5 subject to at most one "
    "result per coarse cell — each of the 8 probed IVF lists "
    "contributes only its best hit, so the final ranking spans 5 "
    "DISTINCT regions of the embedding space (the retrieval shape "
    "behind dedup-aware RAG context selection and diverse few-shot "
    "mining, where 5 near-copies of one cluster are worthless).  The "
    "cells the index already maintains serve as the diversity buckets, "
    "making this the fully-distributed O(probe-bounded) stand-in for "
    "greedy MMR (which is sequential in k by definition).  Physical "
    "delta vs ivf_ann_topk: one extra PARTITIONED window (query_id, "
    "list_id) over each Arrow batch's per-list best hits — no new shuffle "
    "shape, no driver work; same fold-exact scoring kernels, so "
    "cos_sim doubles stay bit-identical to the oracle's list_reduce.",
)
def q_ivf_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, nprobe=DIVERSE_NPROBE, per_list_top1=True)


def _l2sq_sql(a: str, b: str, n: int) -> str:
    """Left-fold squared L2 over n elements — lockstep with
    operators/similarity._l2sq."""
    return (
        f"list_reduce(list_transform(range(1, {n} + 1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
        f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), (x, y) -> x + y)"
    )


_PQ_IDS = ", ".join(str(i) for i in SIM.PQ_CODEBOOK_IDS)
_PQ_CODE_COLS = ",\n           ".join(
    f"CAST(max(CASE WHEN j = {j} THEN cid END) AS BIGINT) AS code{j}"
    for j in range(SIM.PQ_SUBSPACES)
)


@register_extra(
    "pq_codes",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE vec_id IN ({_PQ_IDS})),
    sub AS (
      SELECT e.vec_id, r.j, c.cid,
             {_l2sq_sql(
                 f"e.embedding[(r.j * {SIM.PQ_SUBDIM} + 1):((r.j + 1) * {SIM.PQ_SUBDIM})]",
                 f"c.cv[(r.j * {SIM.PQ_SUBDIM} + 1):((r.j + 1) * {SIM.PQ_SUBDIM})]",
                 SIM.PQ_SUBDIM,
             )} AS d
      FROM embeddings e CROSS JOIN c CROSS JOIN range(0, {SIM.PQ_SUBSPACES}) r(j)
    ),
    best AS (
      SELECT vec_id, j, cid,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY d ASC, cid ASC) AS rn
      FROM sub
    )
    SELECT vec_id,
           {_PQ_CODE_COLS}
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
    doc="Product-quantization encoding: 64-dim float vectors → 4 "
    "3-bit codes (4 subspaces × 8 fixed-row codewords) — the memory "
    "compression behind RAM-resident ANN over a 100 TB corpus. "
    "Encoding is one scan-side projection against a literal codebook "
    "(no shuffle, no UDF); integer codes make the operator exactly "
    "hash-comparable, and the left-fold L2 keeps the argmin "
    "bit-stable across engines.",
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.pq_codes(load_table(spark, sf_dir, "embeddings"))


_PQ_SLICE_A = f"e.embedding[(r.j * {SIM.PQ_SUBDIM} + 1):((r.j + 1) * {SIM.PQ_SUBDIM})]"
_PQ_SLICE_C = f"c.cv[(r.j * {SIM.PQ_SUBDIM} + 1):((r.j + 1) * {SIM.PQ_SUBDIM})]"
_PQ_SLICE_Q = f"q.qv[(r.j * {SIM.PQ_SUBDIM} + 1):((r.j + 1) * {SIM.PQ_SUBDIM})]"


@register_extra(
    "pq_adc_topk",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE vec_id IN ({_PQ_IDS})),
    sub AS (
      SELECT e.vec_id, r.j, c.cid,
             {_l2sq_sql(_PQ_SLICE_A, _PQ_SLICE_C, SIM.PQ_SUBDIM)} AS d
      FROM embeddings e CROSS JOIN c CROSS JOIN range(0, {SIM.PQ_SUBSPACES}) r(j)
    ),
    codes AS (
      SELECT vec_id, j, cid AS code FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM sub
      ) WHERE rn = 1 AND vec_id >= 10
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
    dt AS (
      SELECT q.query_id, r.j, c.cid AS code,
             {_l2sq_sql(_PQ_SLICE_Q, _PQ_SLICE_C, SIM.PQ_SUBDIM)} AS d
      FROM q CROSS JOIN c CROSS JOIN range(0, {SIM.PQ_SUBSPACES}) r(j)
    ),
    scored AS (
      SELECT dt.query_id, codes.vec_id,
             CAST(sum(CAST(floor(dt.d * 1000000000.0) AS BIGINT)) AS BIGINT)
               AS dist_q
      FROM codes JOIN dt ON dt.j = codes.j AND dt.code = codes.code
      GROUP BY dt.query_id, codes.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist_q ASC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, dist_q, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Asymmetric-distance PQ search: queries keep full vectors, the "
    "corpus is only its 4 codes; distance = Σ per-subspace table "
    "lookups. The per-query distance table (|Q|×4×8 integers) ships in "
    "the task closure, and encode, lookup and per-batch top-5 run in "
    "one mapInPandas pass — query-time cost is independent of vector "
    "dimensionality, the property that makes RAM-resident search over "
    "a 100 TB corpus possible. Per-subspace "
    "distances are floor-quantized to integers before the sum, so "
    "ranking is order-independent and exactly oracle-comparable.",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.pq_adc_topk(load_table(spark, sf_dir, "embeddings"))


# --- ANN recall as first-class integer-oracled queries -------------------


def _recall_df(approx: DataFrame, exact: DataFrame, method: str) -> DataFrame:
    """hits@k per query: |approx ∩ exact| — integers, so the float
    scoring differences between engines/paths never touch the hash.

    ``exact`` feeds TWO branches (the hits join and the per-query
    anchor list) and Catalyst does not share subplans across branches,
    so the exhaustive pipeline would execute twice; it is pinned here
    (O(queries x k) rows) so every recall query pays its exact side
    once (r12)."""
    from pyspark.sql import functions as F

    exact = exact.localCheckpoint(eager=True)
    hits = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            F.lit(method).alias("method"),
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )


def _recall_sql(approx_oracle: str, exact_oracle: str, method: str) -> str:
    return f"""
    WITH approx AS ({approx_oracle}),
    exact AS ({exact_oracle}),
    hits AS (
      SELECT e.query_id, count(*) AS hits
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      GROUP BY e.query_id
    )
    SELECT '{method}' AS method, q.query_id,
           COALESCE(h.hits, 0) AS hits
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    """


from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES  # noqa: E402

_EXACT_ORACLE = QUERIES["cosine_topk"].oracle


@register_extra(
    "ann_recall_lsh",
    _recall_sql(EXTRA_QUERIES["lsh_ann_topk"].oracle, _EXACT_ORACLE, "lsh"),
    doc="recall@5 of the LSH multi-probe ANN path against the exact "
    "cosine baseline, as per-query integer intersection counts — the "
    "approximate path's quality as a regression-checked number.",
)
def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_df(SIM.lsh_ann_topk(emb), SIM.cosine_topk(emb), "lsh")


@register_extra(
    "ann_recall_ivf",
    _recall_sql(QUERIES["ivf_ann_topk"].oracle, _EXACT_ORACLE, "ivf"),
    doc="recall@5 of the IVF coarse-index ANN path against the exact "
    "cosine baseline (integer intersection counts per query).",
)
def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_df(SIM.ivf_topk(emb), SIM.cosine_topk(emb), "ivf")


@register_extra(
    "ann_recall_ivf_production",
    _recall_sql(
        _ivf_topk_oracle(SIM.IVF_PRODUCTION_NPROBE),
        _EXACT_ORACLE,
        "ivf_production",
    ),
    doc="recall@5 of the IVF path at the PRODUCTION probe width "
    f"(nprobe={SIM.IVF_PRODUCTION_NPROBE} of {len(SIM.CENTROID_IDS)} "
    "lists) — the point where the measured recall-vs-nprobe curve "
    "(scripts/record_nprobe_recall.py; BENCH_local.json "
    "'nprobe_recall') crosses 0.9 mean recall, regression-pinned in "
    "tests/test_similarity_ann.py.  On THIS corpus the crossing is "
    "near-exhaustive because the synthetic embeddings are isotropic "
    "(recall grows ~linearly with the probed fraction — the textbook "
    "IVF behavior when the coarse quantizer finds no cluster "
    "structure); on real clustered embeddings the same curve crosses "
    "far lower, and the curve artifact — not any fixed width — is "
    "what a user sizing an index reads.  The cheap nprobe=2 "
    "configuration stays the gate/bench default (ivf_ann_topk).",
)
def q_ann_recall_ivf_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # one scan keeps both sides' per-batch survivors; bit-identical to
    # the ivf_topk/cosine_topk composition (tests/test_similarity_ann.py
    # pins the equality)
    approx, exact = SIM.ivf_scored_pair(
        emb, nprobe_approx=SIM.IVF_PRODUCTION_NPROBE
    )
    return _recall_df(approx, exact, "ivf_production")


# --- trained k-means IVF (integer-exact Lloyd's) -------------------------

from flink_repartition_watermark_example_spark.operators import kmeans as KM  # noqa: E402


def _km_dist_sql(a: str, b: str) -> str:
    """Integer squared-L2 fold — lockstep with kmeans._dist_sq (integer
    sums are order-independent, so fold order is irrelevant here)."""
    return (
        f"list_reduce(list_transform(range(1, {KM.DIM} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _kmeans_ctes(iters: int) -> str:
    """qv (quantized vectors), c0 (seed centroids), then per iteration:
    a{i} assignment (dist asc, cid asc) and c{i+1} floor-div means —
    emptied clusters keep their previous position, like the Spark
    loop."""
    parts = [
        f"""qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x::DOUBLE * {KM.SCALE}) AS BIGINT)
                                 + {KM.OFFSET}) AS q
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, q AS cv FROM qv
           WHERE vec_id IN ({_centroid_id_list()}))"""
    ]
    for i in range(iters):
        parts.append(f"""a{i} AS (
      SELECT vec_id, q, cid FROM (
        SELECT v.vec_id, v.q, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_km_dist_sql('v.q', 'c.cv')} ASC,
                                           c.cid ASC) AS rn
        FROM qv v CROSS JOIN c{i} c
      ) WHERE rn = 1
    ),
    c{i + 1} AS (
      SELECT c.cid, COALESCE(m.cv, c.cv) AS cv
      FROM c{i} c LEFT JOIN (
        SELECT cid, list(val ORDER BY dim) AS cv FROM (
          SELECT a.cid, d.dim,
                 CAST(sum(a.q[d.dim]) // count(*) AS BIGINT) AS val
          FROM a{i} a CROSS JOIN range(1, {KM.DIM} + 1) d(dim)
          GROUP BY a.cid, d.dim
        ) GROUP BY cid
      ) m ON m.cid = c.cid
    )""")
    return ",\n    ".join(parts)


@register_extra(
    "kmeans_centroids",
    f"""
    WITH {_kmeans_ctes(KM.ITERS)}
    SELECT cid AS centroid_id, d.dim, cv[d.dim] - {KM.OFFSET} AS val_q
    FROM c{KM.ITERS} CROSS JOIN range(1, {KM.DIM} + 1) d(dim)
    """,
    doc=f"Distributed Lloyd's k-means over the embeddings ({KM.ITERS} "
    "iterations, 16 clusters seeded from the static IVF rows), "
    "integer-quantized so every centroid is bit-exact across engines "
    "— the trained replacement for the fixed-row IVF index. Per "
    "iteration: scan-side literal-centroid assignment (no shuffle), "
    "one map-side-combined (cid,dim) sum shuffle, a K×dim-int driver "
    "round-trip. Exploded to (centroid_id, dim, val_q) rows.",
)
def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return KM.centroids_df(load_table(spark, sf_dir, "embeddings"))


def _ivf_trained_topk_sql(nprobe: int) -> str:
    """Full trained-IVF top-5 statement at probe width ``nprobe`` —
    shared by the registered nprobe=2 query and the production-recall
    pair (nprobe=TRAINED_PRODUCTION_NPROBE vs the all-lists exhaustive
    baseline)."""
    return f"""
    WITH {_kmeans_ctes(KM.ITERS)},
    corpus AS (
      SELECT vec_id, q, cid AS list_id FROM (
        SELECT v.vec_id, v.q, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_km_dist_sql('v.q', 'c.cv')} ASC,
                                           c.cid ASC) AS rn
        FROM qv v CROSS JOIN c{KM.ITERS} c
        WHERE v.vec_id >= 10
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qq, cid AS list_id FROM (
        SELECT v.vec_id AS query_id, v.q AS qq, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_km_dist_sql('v.q', 'c.cv')} ASC,
                                           c.cid ASC) AS rn
        FROM qv v CROSS JOIN c{KM.ITERS} c
        WHERE v.vec_id < 10
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, co.vec_id, {_km_dist_sql('p.qq', 'co.q')} AS dist_q
      FROM probes p JOIN corpus co ON co.list_id = p.list_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist_q ASC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, dist_q, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """


@register_extra(
    "ivf_trained_topk",
    _ivf_trained_topk_sql(2),
    doc="IVF top-5 over lists from the TRAINED k-means centroids "
    "(ivf_ann_topk uses the untrained seed rows): integer micro-unit "
    "squared-L2 end to end, so training, assignment, probing, and "
    "ranking are all exactly oracle-comparable.",
)
def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return KM.ivf_trained_topk(load_table(spark, sf_dir, "embeddings"))


@register_extra(
    "ann_recall_ivf_trained_production",
    _recall_sql(
        _ivf_trained_topk_sql(KM.TRAINED_PRODUCTION_NPROBE),
        # the trained family's exhaustive baseline: probing every list
        # IS brute-force integer-L2 over the trained index's space
        _ivf_trained_topk_sql(len(SIM.CENTROID_IDS)),
        "ivf_trained_production",
    ),
    doc="recall@5 of the TRAINED k-means IVF at ITS production probe "
    f"width (nprobe={KM.TRAINED_PRODUCTION_NPROBE} of "
    f"{len(SIM.CENTROID_IDS)} lists) against the trained index's "
    "exhaustive search — the productized point of the recorded "
    "recall-vs-nprobe curve (BENCH_local.json 'nprobe_recall'): the "
    "trained-Lloyd quantizer crosses 0.9 mean recall at nprobe=12 "
    "where the sampled fixed-row index (ann_recall_ivf_production) "
    "needs 15 — 20% less probe work at the same recall bar for one "
    "3-iteration integer-exact Lloyd pass, making the trained family "
    "the documented production default (regression-pinned >= 0.9 in "
    "tests/test_similarity_ann.py; wall-clock head-to-head recorded "
    "per round in BENCH_local.json).  Training cost is amortized: "
    "the centroids are a K x dim integer artifact refreshed on the "
    "index-build cadence, not per query.",
)
def q_ann_recall_ivf_trained_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # fused pair: one corpus assignment + one full-width scoring pass
    # serves both sides (bit-identical to two independent topk calls —
    # the approx candidate set is exactly probe_rank <= nprobe); see
    # kmeans.ivf_trained_topk_pair (r12: 9.4 -> ~2 s).
    approx, exact = KM.ivf_trained_topk_pair(
        emb, nprobe_approx=KM.TRAINED_PRODUCTION_NPROBE
    )
    return _recall_df(approx, exact, "ivf_trained_production")


@register_extra(
    "ann_recall_pq",
    _recall_sql(EXTRA_QUERIES["pq_adc_topk"].oracle, _EXACT_ORACLE, "pq"),
    doc="recall@5 of PQ asymmetric-distance search against the exact "
    "cosine baseline (integer intersection counts per query).",
)
def q_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_df(SIM.pq_adc_topk(emb), SIM.cosine_topk(emb), "pq")


# Demoted to extra in round 9 (still oracle-checked every pytest run):
# the fixed k=16 keeps the DuckDB oracle literal and the historical
# sweep rows comparable, but it is pair-dominated at scale (sf1→sf10
# honestly measured ~90×) — the GATE slot now belongs to the
# production-shaped semantic_dedup_scaled below, so the driver-checked
# artifact is the configuration you'd run at 100×.
@register_extra(
    "semantic_dedup_survivors",
    f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({", ".join(str(c) for c in SIM.CENTROID_IDS)})
    ),
    v AS (SELECT vec_id, embedding AS x FROM embeddings),
    assign AS (
      SELECT vec_id, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cosine_sql('x', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM v CROSS JOIN cent
    ),
    lists AS (SELECT vec_id, x, centroid_id AS list_id FROM assign WHERE rn = 1),
    purged AS (
      SELECT DISTINCT b.vec_id
      FROM lists a JOIN lists b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE {cosine_sql('a.x', 'b.x')} >= 0.25
    )
    SELECT l.vec_id, l.list_id FROM lists l
    WHERE l.vec_id NOT IN (SELECT vec_id FROM purged)
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, "
    "arXiv:2303.09540): the IVF coarse index doubles as the "
    "clustering; within each cluster every vector with a >=0.25 "
    "cosine to a lower-id cluster-mate is purged, so each "
    "epsilon-ball keeps its min-id representative.  Candidate "
    "pairing is an equi-join on list_id — quadratic only within a "
    "cluster; the centroid count is the corpus-size lever (grow it "
    "~sqrt(n)).  All cosines through the fold-exact kernels, so the "
    "threshold cut is bit-identical to the oracle's list_reduce.",
)
def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# The production-config SemDeDup assignment CTEs — shared VERBATIM by
# the gate query (closure assignment at the k<=4096 tier), the joined
# twin (broadcast-relation assignment, the 4th-decade tier), and the
# cluster-size monitoring query: every consumer must hash-match the
# SAME assignment SQL, which is the equality proof.
_SEMDEDUP_ASSIGN_CTES = f"""
    params AS (
      SELECT GREATEST(16, CAST(count(*) // {SIM.SEMDEDUP_PER_CLUSTER} AS BIGINT)) AS k
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM (SELECT vec_id, embedding,
                   row_number() OVER (ORDER BY vec_id) AS rn
            FROM embeddings WHERE vec_id >= 10) e, params
      WHERE e.rn <= params.k
    ),
    v AS (SELECT vec_id, embedding AS x FROM embeddings),
    assign AS (
      SELECT vec_id, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cosine_sql('x', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM v CROSS JOIN cent
    ),
    lists AS (SELECT vec_id, x, centroid_id AS list_id FROM assign WHERE rn = 1)"""

_SEMDEDUP_SCALED_SQL = f"""
    WITH {_SEMDEDUP_ASSIGN_CTES},
    purged AS (
      SELECT DISTINCT b.vec_id
      FROM lists a JOIN lists b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE {cosine_sql('a.x', 'b.x')} >= 0.25
    )
    SELECT l.vec_id, l.list_id FROM lists l
    WHERE l.vec_id NOT IN (SELECT vec_id FROM purged)
    """


@register(
    "semantic_dedup_scaled",
    _SEMDEDUP_SCALED_SQL,
    doc="SemDeDup at the PRODUCTION configuration: the same "
    "semantic_dedup operator as semantic_dedup_survivors, but the "
    "centroid count scales with the corpus — k = max(16, n // "
    f"{SIM.SEMDEDUP_PER_CLUSTER}), centroids = the first k eligible "
    "vec_ids ascending (semantic_dedup(centroids=per_cluster)).  "
    "The tier is the data's: the closure matrix here, the two-level "
    "router past the pair-row budget.  Cluster size stays "
    "~constant, so the within-cluster quadratic pairing is O(n · "
    "per_cluster) corpus-wide instead of O(n²/16) — the 100 TB plan, "
    "gate-checked: the oracle computes the identical k and centroid "
    "set from fixed SQL (GREATEST(16, count(*)//500) over "
    "row_number-ranked eligible ids).  At the driver's sf0.01 both "
    "variants sit at the k=16 floor (different centroid IDs), so the "
    "gate stays cheap; the sf1+/sf10 sweeps are where the lever "
    "shows (scripts/semdedup_scaled_k.py: 2M vectors, k=4000, "
    "1188 s vs ~25 h extrapolated at fixed k=16).",
)
def q_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(emb, centroids=SIM.SEMDEDUP_PER_CLUSTER, nprobe=HIER_NPROBE)


# Super-probe width for the two-level router (the recall knob): 2
# nearest supers per vector — the standard IVF nprobe compromise,
# measured to recover the boundary losses nprobe=1 paid.
HIER_NPROBE = 2

# Factored so the routed cluster-size histogram composes the SAME
# assignment CTEs (everything up to `lists`) without the purge —
# one equality proof across the dedup and the monitoring consumer.
_SEMDEDUP_HIER_CTES = f"""params AS (
      SELECT GREATEST(16, CAST(count(*) // {SIM.SEMDEDUP_PER_CLUSTER} AS BIGINT)) AS k
      FROM embeddings
    ),
    elig AS (
      SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
      FROM embeddings WHERE vec_id >= 10
    ),
    cent AS (
      SELECT e.rn - 1 AS cidx, e.vec_id AS centroid_id, e.embedding AS cv,
             CAST(ceil(sqrt(p.k)) AS BIGINT) AS m
      FROM elig e, params p WHERE e.rn <= p.k
    ),
    init AS (
      SELECT cidx // m AS sidx, centroid_id, cv FROM cent WHERE cidx % m = 0
    ),
    memb AS (
      SELECT sidx, centroid_id, cv FROM init
      UNION ALL
      SELECT sidx, centroid_id, cv FROM (
        SELECT c.centroid_id, c.cv, i.sidx,
               row_number() OVER (PARTITION BY c.centroid_id
                                  ORDER BY {cosine_sql('c.cv', 'i.cv')} DESC,
                                           i.sidx ASC) AS rs
        FROM (SELECT * FROM cent WHERE cidx % m <> 0) c CROSS JOIN init i
      ) WHERE rs = 1
    ),
    sup AS (
      SELECT sidx,
             list_transform(range(1, {SIM.EMBED_DIM} + 1), j ->
               list_reduce(
                 list_transform(list(cv ORDER BY centroid_id),
                                w -> w[j]::DOUBLE),
                 (a, b) -> a + b) / count(*)) AS sv
      FROM memb GROUP BY sidx
    ),
    childs AS (
      SELECT sidx, centroid_id, cv FROM (
        SELECT c.centroid_id, c.cv, s.sidx,
               row_number() OVER (PARTITION BY c.centroid_id
                                  ORDER BY {cosine_sql('c.cv', 's.sv')} DESC,
                                           s.sidx ASC) AS rs
        FROM cent c CROSS JOIN sup s
      ) WHERE rs = 1
    ),
    asup AS (
      SELECT s.sidx, s.sv FROM sup s
      WHERE s.sidx IN (SELECT DISTINCT sidx FROM childs)
    ),
    v AS (SELECT vec_id, embedding AS x FROM embeddings),
    vsup AS (
      SELECT vec_id, x, sidx FROM (
        SELECT v.vec_id, v.x, a.sidx,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cosine_sql('v.x', 'a.sv')} DESC,
                                           a.sidx ASC) AS rs
        FROM v CROSS JOIN asup a
      ) WHERE rs <= {HIER_NPROBE}
    ),
    lists AS (
      SELECT vec_id, x, centroid_id AS list_id FROM (
        SELECT vs.vec_id, vs.x, ch.centroid_id,
               row_number() OVER (PARTITION BY vs.vec_id
                                  ORDER BY {cosine_sql('vs.x', 'ch.cv')} DESC,
                                           ch.centroid_id ASC) AS rc
        FROM vsup vs JOIN childs ch ON ch.sidx = vs.sidx
      ) WHERE rc = 1
    )
"""

_SEMDEDUP_HIER_SQL = f"""
    WITH {_SEMDEDUP_HIER_CTES},
    purged AS (
      SELECT DISTINCT b.vec_id
      FROM lists a JOIN lists b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE {cosine_sql('a.x', 'b.x')} >= 0.25
    )
    SELECT l.vec_id, l.list_id FROM lists l
    WHERE l.vec_id NOT IN (SELECT vec_id FROM purged)
    """


@register_extra(
    "semantic_dedup_hier",
    _SEMDEDUP_HIER_SQL,
    doc="SemDeDup with TWO-LEVEL centroid routing at the corpus-scaled "
    "k — the assignment-cost fix for the fourth decade: O(n*sqrt(k)) "
    "assignment folds instead of flat O(n*k) (flat passes 2e13 folds "
    "at n=1e8, k=n/500; two-level passes ~1e11).  Round-10 router "
    "(VERDICT r9 #3): supers come from ONE fold-exact Lloyd round "
    "(init = every m-th centroid, m = ceil(sqrt(k)); supers = member "
    "MEANS in a fixed fold order, so child sets track data mass "
    "instead of inheriting every-m-th-id skew), every centroid "
    "routes to its nearest mean, and each vector probes its top-2 "
    "supers (HIER_NPROBE — the recall knob that recovers nprobe=1's "
    "boundary losses).  All routing is deterministic (cos DESC, "
    "index ASC tiebreaks, fold-exact kernels, list_reduce means), so "
    "the oracle reproduces the identical two-level assignment from "
    "fixed SQL — hash-exact, not approximately-equal.  Purge "
    "semantics unchanged (min-id survivor per >=0.25-cosine "
    "epsilon-ball within a cluster).  Routing can still differ from "
    "flat near boundaries (the IVF coarse-quantizer trade), so this "
    "is a sibling of semantic_dedup_scaled, not a value-equal twin — "
    "recall/wall vs flat re-measured per round: purge recall 0.991 "
    "at sf1 (0.70x flat wall), 0.999 at sf10 (0.98x), and at the "
    "THIRD decade the lever pays outright — sf100 (2M vectors, "
    "k=4000) runs 480 s where flat measured 1188 s (BENCH_sf100 "
    "semdedup_scaled_k), a 2.5x win right where O(n*sqrt(k)) "
    "assignment starts dominating O(n*k).  The 10.3x sf10->sf100 "
    "wall ratio tracks the n^1.5 work model (k ~ n/500 makes ideal "
    "scaling ~31.6x per decade; measured less than a third of "
    "that).",
)
def q_semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(
        emb, centroids=SIM.SEMDEDUP_PER_CLUSTER, tier="two_level", nprobe=HIER_NPROBE
    )


@register_extra(
    "semantic_cluster_sizes_routed",
    f"""
    WITH {_SEMDEDUP_HIER_CTES},
    sizes AS (
      SELECT list_id, count(*) AS n FROM lists GROUP BY list_id
    )
    SELECT CAST(n AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(n * count(*) AS BIGINT) AS n_vectors
    FROM sizes GROUP BY n
    """,
    doc="The cluster-size histogram over the TWO-LEVEL ROUTER "
    "assignment — the monitoring plan for the decade where the exact "
    "flat-assignment histogram is fenced (BENCH_sf100.json fenced_out: "
    "semantic_cluster_sizes measured 165x on 10x data at sf100 because "
    "exact assignment is n*k work; the router's O(n*sqrt(k)) "
    "assignment is what you'd actually run there — 480 s vs 1188 s "
    "for the full dedup at that decade).  Same two cascaded "
    "aggregations over (list_id) as the exact histogram; the "
    "assignment itself is the deterministic hier routing, so the "
    "DuckDB oracle composes the VERBATIM hier CTEs and the result is "
    "hash-exact, not approximate — the monitoring readout inherits "
    "the router's boundary trade (documented on semantic_dedup_hier) "
    "rather than sampling error.",
)
def q_semantic_cluster_sizes_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = SIM.semantic_assign(
        emb, SIM.SEMDEDUP_PER_CLUSTER, tier="two_level", nprobe=HIER_NPROBE
    )
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("n").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("n") * F.col("n_clusters")).cast("long").alias("n_vectors"),
        )
    )


# --- embedding distribution monitoring ------------------------------------

# Component quantum for the drift stats: floor(x * 1e4) — components
# are O(1) floats, so the quantized value is ~1e4 and its square ~1e8;
# even 1e9 rows per (label, dim) group keeps the exact integer
# second-moment sum inside int64 (1e17 < 9.2e18).
_DIM_Q = 10000.0


@register_extra(
    "embedding_dim_stats",
    f"""
    WITH comp AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_DIM_Q})
                  AS BIGINT) AS xq
      FROM embeddings)
    SELECT label, dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(xq) AS BIGINT) AS sum_q,
           CAST(sum(xq * xq) AS BIGINT) AS sumsq_q,
           CAST(floor(CAST(sum(xq) AS DOUBLE) * 100.0 / count(*))
                AS BIGINT) AS mean_q6
    FROM comp GROUP BY label, dim
    """,
    doc="Embedding distribution monitoring: exact per-(label, "
    "dimension) first and second moments of the vector components — "
    "the drift-detection table an embedding pipeline compares "
    "across ingest batches (a shifted mean_q6 on any dimension "
    "flags encoder or corpus drift).  Float discipline: each "
    "component is floor-quantized to an integer BEFORE the sums, so "
    "the moments are exact integers on both engines (a raw double "
    "sum would be partitioning-order-dependent).  Scale shape: the "
    "64x row fan-out happens in the projection ON the scan and "
    "collapses immediately into a map-side-combined (label, dim) "
    "hash agg — output O(labels x dims) regardless of corpus size; "
    "no join, no window, one narrow exchange.",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.scale import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(_DIM_Q))
        .cast("long")
        .alias("xq"),
    )
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sum_q"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sumsq_q"),
        F.floor(
            F.sum("xq").cast("double") * F.lit(100.0) / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_q6"),
    )


# --- filtered-ANN recall (VERDICT r8 #5) ----------------------------------

_FILTERED_EXACT_ORACLE = f"""
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM (
        SELECT q.query_id, c.vec_id, {cosine_sql('q.qv', 'c.v')} AS cos_sim
        FROM (SELECT vec_id, embedding AS v FROM embeddings
              WHERE vec_id >= 10 AND label IN (0, 2, 4, 6, 8)) c
        CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 10) q
      )
    ) WHERE rank <= 5
    """


@register_extra(
    "ann_recall_filtered",
    _recall_sql(
        EXTRA_QUERIES["ivf_ann_filtered_topk"].oracle,
        _FILTERED_EXACT_ORACLE,
        "ivf_filtered",
    ),
    doc="recall@5 of the FILTERED IVF path (ivf_ann_filtered_topk) "
    "against the exact cosine top-5 over the same filtered corpus — "
    "integer intersection counts per query.  This is the number that "
    "catches the classic filtered-search failure: a selective "
    "metadata predicate can empty the nprobe-probed lists while the "
    "true filtered neighbors sit in unprobed ones, silently "
    "degrading recall even though the unfiltered recall stays high.  "
    "The exact side reuses cosine_topk with the corpus pre-filtered "
    "(query vectors preserved), so both sides see the identical "
    "candidate universe.",
)
def q_ann_recall_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("label").isin(0, 2, 4, 6, 8)
    # one scan of the filtered corpus serves both sides (pred still a
    # scan pre-filter, adaptive probe widening included) — bit-identical
    # to the ivf_topk(corpus_pred)/filtered cosine_topk composition
    approx, exact = SIM.ivf_scored_pair(
        emb, nprobe_approx=SIM.NPROBE, corpus_pred=pred
    )
    return _recall_df(approx, exact, "ivf_filtered")


# --- retrieval-training data prep ------------------------------------------

_HARDNEG_LO, _HARDNEG_HI = 6, 15


@register_extra(
    "hard_negative_mining",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 10),
    exact AS (
      SELECT query_id, vec_id, cos_sim FROM (
        SELECT query_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM (SELECT query_id, c.vec_id, {cosine_sql('qv', 'v')} AS cos_sim
              FROM c CROSS JOIN q)
      ) WHERE rank <= 5
    ),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({", ".join(str(c) for c in SIM.CENTROID_IDS)})
    ),
    assign AS (
      SELECT vec_id, v, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cosine_sql('v', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM c CROSS JOIN cent
    ),
    ivlists AS (SELECT vec_id, v, centroid_id AS list_id FROM assign WHERE rn = 1),
    qp AS (
      SELECT query_id, qv, centroid_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY {cosine_sql('qv', 'cv')} DESC,
                                         centroid_id ASC) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT query_id, qv, centroid_id AS list_id FROM qp
               WHERE rn <= {SIM.NPROBE}),
    approx AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM (SELECT p.query_id, l.vec_id, {cosine_sql('p.qv', 'l.v')} AS cos_sim
            FROM probes p JOIN ivlists l ON l.list_id = p.list_id)
    ),
    neg AS (
      SELECT a.query_id, a.vec_id, a.cos_sim
      FROM approx a
      LEFT JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      WHERE a.rank BETWEEN {_HARDNEG_LO} AND {_HARDNEG_HI} AND e.vec_id IS NULL
    )
    SELECT query_id, vec_id, cos_sim, CAST(1 AS BIGINT) AS label FROM exact
    UNION ALL
    SELECT query_id, vec_id, cos_sim, CAST(0 AS BIGINT) AS label FROM neg
    """,
    doc="Hard-negative mining for retrieval/embedding training: per "
    "query, positives are the EXACT cosine top-5 (label 1) and hard "
    "negatives are the IVF-probed candidates ranked just below the "
    f"top-k ({_HARDNEG_LO}..{_HARDNEG_HI}, label 0), anti-joined "
    "against the positives — close-but-not-nearest neighbors, the "
    "negatives that actually move a contrastive loss (random "
    "negatives are too easy; see contrastive_pairs for that shape).  "
    "Scale shape: both sides are one corpus scan each (the exact "
    "cosine_topk over 10 queries and the IVF probe), keeping only "
    "each Arrow batch's top-k per query, never all pairs; both "
    "sides' cosines share the fold-exact kernels so the union "
    "hash-matches the oracle.",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    # pos feeds the output union AND the anti-join; pinned (O(queries
    # x k) rows) so the exact side executes once.
    pos = (
        SIM.cosine_topk(emb)
        .select(
            "query_id", "vec_id", "cos_sim", F.lit(1).cast("long").alias("label")
        )
        .localCheckpoint(eager=True)
    )
    neg = (
        SIM.ivf_topk(emb, k=_HARDNEG_HI)
        .where(F.col("rank") >= _HARDNEG_LO)
        .join(pos.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti")
        .select(
            "query_id", "vec_id", "cos_sim", F.lit(0).cast("long").alias("label")
        )
    )
    return pos.unionByName(neg)


@register_extra(
    "semantic_cluster_sizes",
    f"""
    WITH {_SEMDEDUP_ASSIGN_CTES},
    sizes AS (
      SELECT list_id, count(*) AS n FROM lists GROUP BY list_id
    )
    SELECT CAST(n AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(n * count(*) AS BIGINT) AS n_vectors
    FROM sizes GROUP BY n
    """,
    doc="Cluster-size histogram of the production SemDeDup assignment "
    "(the SAME assignment CTEs as the gate query, verbatim): how many "
    "lists hold exactly s vectors, and the vector mass they carry — "
    "the monitoring readout for the k ~ n/500 lever, because the "
    "purge stage's cost is sum(s^2) over this table and a skewed "
    "tail is the first symptom of a broken centroid set (the "
    "round-10 router work was motivated by exactly this "
    "distribution).  Spark side is semantic_assign, so the tier "
    "rule is the dedup's — the closure-matrix kernel, the two-level "
    "router past the pair-row budget (where this exact-assignment "
    "oracle no longer describes the rows) — then "
    "two tiny cascaded aggregations: O(k) rows after the first, "
    "O(distinct sizes) after the second.",
)
def q_semantic_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = SIM.semantic_assign(emb, SIM.SEMDEDUP_PER_CLUSTER)
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("n").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("n") * F.col("n_clusters")).cast("long").alias("n_vectors"),
        )
    )


# --- embedding compression monitoring --------------------------------------

_INT8_ERR_Q = 1_000_000  # err quantum: floor(1e6 * |x - deq|), exact int sums


@register_extra(
    "embedding_int8_quant_stats",
    f"""
    WITH comp AS (
      SELECT label, j, embedding[j]::DOUBLE AS x
      FROM embeddings, range(1, {SIM.EMBED_DIM} + 1) r(j)
    ),
    scale AS (
      SELECT j, max(abs(x)) / 127.0 AS s FROM comp GROUP BY j
    ),
    qerr AS (
      SELECT c.label,
             CAST(floor(c.x / s.s) AS BIGINT) AS code,
             CAST(floor({_INT8_ERR_Q} *
               abs(c.x - floor(c.x / s.s) * s.s)) AS BIGINT) AS e_q
      FROM comp c JOIN scale s ON s.j = c.j AND s.s > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(sum(e_q) AS BIGINT) AS sum_err_q,
           CAST(max(e_q) AS BIGINT) AS max_err_q,
           CAST(min(code) AS BIGINT) AS min_code,
           CAST(max(code) AS BIGINT) AS max_code
    FROM qerr GROUP BY label
    """,
    doc="Int8 embedding-quantization error audit: symmetric per-"
    "dimension scales s_j = max|x_j| / 127, floor-quantized codes "
    "(floor, not round — deterministic across engines), and per-"
    "label reconstruction-error stats with the exact-integer float "
    "discipline (|x - code*s| is floor-quantized to 1e-6 units "
    "BEFORE summing, so both engines add identical integers).  This "
    "is the go/no-go readout before shipping a quantized ANN index "
    "or training on compressed embeddings.  Scale shape: one "
    "posexplode pass per stage — a 64-row per-dim max aggregate "
    "(map-side combined) broadcast-joined back onto the exploded "
    "components, then a per-label aggregate; nothing wider than "
    "n x 64 rows, no shuffle of the vectors themselves.",
)
def q_embedding_int8_quant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(SIM.as_double("embedding")).alias("j0", "x")
    ).select("label", (F.col("j0") + 1).alias("j"), "x")
    scale = (
        comp.groupBy("j")
        .agg((F.max(F.abs(F.col("x"))) / F.lit(127.0)).alias("s"))
        .where(F.col("s") > 0)
    )
    code = F.floor(F.col("x") / F.col("s"))
    e_q = F.floor(
        F.lit(_INT8_ERR_Q) * F.abs(F.col("x") - code * F.col("s"))
    ).cast("long")
    return (
        comp.join(F.broadcast(scale), "j")
        .select("label", code.cast("long").alias("code"), e_q.alias("e_q"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum("e_q").cast("long").alias("sum_err_q"),
            F.max("e_q").cast("long").alias("max_err_q"),
            F.min("code").cast("long").alias("min_code"),
            F.max("code").cast("long").alias("max_code"),
        )
    )


@register_extra(
    "streaming_int8_scales",
    f"""
    SELECT j, max(abs(embedding[j]::DOUBLE)) / 127.0 AS s
    FROM embeddings, range(1, {SIM.EMBED_DIM} + 1) r(j)
    GROUP BY j
    """,
    doc="The incremental per-dim |x|-max index (streaming/int8scale.py)"
    " run THROUGH Structured Streaming and value-checked against the "
    "batch scale computation: embeddings replay as three vec_id-keyed "
    "file-batches, each contributing a 64-row (j, max|x_j|) delta via "
    "foreachBatch; versions compact losslessly and the merged scales "
    "are max-of-deltas / 127.  Max-merge is the streaming package's "
    "third algebraic class — commutative/associative like the "
    "counters AND idempotent, so the result survives not just any "
    "arrival order but duplicated replays (pinned in "
    "tests/test_streaming_int8scale.py).  These are the live scale "
    "factors a quantized ANN index or int8 training pipeline would "
    "refresh continuously.",
)
def q_streaming_int8_scales(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.queries_sketches import _replay_through_sketch
    from flink_repartition_watermark_example_spark.streaming.int8scale import (
        compact_scales,
        dim_max_writer,
        read_dim_scales,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _replay_through_sketch(
        spark,
        emb,
        lambda d: dim_max_writer(d),
        lambda d: compact_scales(spark, d),
        lambda d: read_dim_scales(spark, d),
        "j bigint, s double",
        key_col="vec_id",
    )


# --- second-moment structure: integer Gram / covariance / PCA -------------
# (round 12: the one-pass linear-algebra pattern — operators/linalg.py)

_GRAM_Q = 10000.0  # == linalg.GRAM_Q == _DIM_Q; restated for the SQL render


@register(
    "embedding_covariance_topk",
    f"""
    WITH comp AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_GRAM_Q})
                  AS BIGINT) AS xq
      FROM embeddings),
    cells AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.xq) AS BIGINT) AS sum_i,
             CAST(sum(b.xq) AS BIGINT) AS sum_j,
             CAST(sum(a.xq * b.xq) AS BIGINT) AS sum_prod
      FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.dim < b.dim
      GROUP BY 1, 2)
    SELECT dim_i, dim_j, n, sum_prod,
           CAST(floor(CAST(sum_prod AS DOUBLE) / n
                      - (CAST(sum_i AS DOUBLE) / n)
                        * (CAST(sum_j AS DOUBLE) / n)) AS BIGINT) AS cov_q
    FROM cells
    ORDER BY abs(CAST(floor(CAST(sum_prod AS DOUBLE) / n
                      - (CAST(sum_i AS DOUBLE) / n)
                        * (CAST(sum_j AS DOUBLE) / n)) AS BIGINT)) DESC,
             dim_i ASC, dim_j ASC
    LIMIT 20
    """,
    doc="Covariance structure monitoring: the 20 strongest off-diagonal "
    "covariances between embedding dimensions — the table that flags "
    "redundant/entangled dimensions before an index or quantizer is "
    "sized.  Physical shape is the 100 TB one-pass pattern "
    "(operators/linalg.int_gram): each Arrow batch reduces to ONE "
    "integer d x d Gram contribution via an int64 matmul, the exchange "
    "carries O(partitions * d^2) accumulator rows, and the corpus is "
    "never joined or shuffled row-wise (the oracle's self-join rendering "
    "is the semantic spec, not the plan).  Float discipline: components "
    "floor-quantize to ints BEFORE accumulation, so every cell is an "
    "exact integer on both engines; the derived covariance doubles stay "
    "exact below 2^53 (bound asserted in operators/linalg.py).",
)
def q_embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.operators.linalg import int_gram

    emb = load_table(spark, sf_dir, "embeddings")
    gram = int_gram(emb).where(F.col("dim_i") < F.col("dim_j"))
    cov_q = F.floor(
        F.col("sum_prod").cast("double") / F.col("n")
        - (F.col("sum_i").cast("double") / F.col("n"))
        * (F.col("sum_j").cast("double") / F.col("n"))
    ).cast("long")
    return (
        gram.select("dim_i", "dim_j", "n", "sum_prod", cov_q.alias("cov_q"))
        .orderBy(F.abs(F.col("cov_q")).desc(), "dim_i", "dim_j")
        .limit(20)
    )


@register_extra(
    "embedding_pca_variance",
    None,  # eigendecomposition is not ANSI-SQL-expressible; exactness is
    # pinned instead by tests/test_linalg.py (numpy full-data twin +
    # trace conservation) and the rows-only driver check.
    doc="PCA spectrum of the embedding covariance: per component the "
    "floor-quantized eigenvalue (1e9 scale, original units) and "
    "explained-variance ratio (1e6 scale).  The corpus-side work is "
    "the SAME one-pass integer Gram as embedding_covariance_topk; the "
    "driver sees only the O(d^2) cell relation and eigendecomposes a "
    "64x64 matrix — the index-sizing artifact (how many components "
    "carry the mass) a PQ/IVF/whitening design reads.  Deterministic "
    "because the Gram is exact integers and eigvalsh on an identical "
    "matrix is reproducible on a fixed LAPACK build.",
)
def q_embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from flink_repartition_watermark_example_spark.operators.linalg import pca_spectrum

    emb = load_table(spark, sf_dir, "embeddings")
    vals, n = pca_spectrum(emb)
    total = float(np.sum(vals))
    rows = [
        (
            int(i),
            int(n),
            int(np.floor(v * 1e9)),
            int(np.floor(1e6 * v / total)) if total > 0 else 0,
        )
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "component bigint, n bigint, eig_q9 bigint, explained_q6 bigint"
    )


@register_extra(
    "embedding_pca_project_stats",
    None,  # the basis comes from an eigendecomposition (not ANSI-SQL);
    # exactness is pinned by tests/test_linalg.py — per-component
    # projected variance must reproduce the eigenvalue spectrum.
    doc="The apply-side of the PCA fit: project every embedding onto "
    "the top-8 principal components (the d x r basis broadcasts "
    "through the Arrow closure — train-on-aggregate / apply-by-"
    "broadcast, the same shape as shipping a trained quantizer) and "
    "report exact integer moments + the derived variance per "
    "component.  By construction the variances must reproduce the "
    "eigenvalue spectrum (test-pinned rtol 1e-3 — the residual is "
    "the coordinate quantization), which makes the query its own "
    "end-to-end audit of the fit->broadcast->apply loop.  Scale "
    "shape: per-row (1 x d) @ (d x r) inside mapInPandas, map-side-"
    "combined O(r) output, no row-wise shuffle; the only driver "
    "traffic is the O(d^2) Gram collect in the fit.",
)
def q_embedding_pca_project_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.operators.linalg import (
        GRAM_Q,
        pca_components,
        project_moments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vals, vecs, n = pca_components(emb)
    r = 8
    moments = project_moments(emb, vecs[:, :r])
    var_q9 = F.floor(
        F.lit(1e9)
        * (
            F.col("sumsq_q").cast("double") / F.col("n")
            - (F.col("sum_q").cast("double") / F.col("n"))
            * (F.col("sum_q").cast("double") / F.col("n"))
        )
        / F.lit(GRAM_Q * GRAM_Q)
    ).cast("long")
    return moments.select(
        "component", "n", "sum_q", "sumsq_q", var_q9.alias("var_q9")
    ).orderBy("component")
