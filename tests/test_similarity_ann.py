"""ANN quality contracts: both approximate paths (LSH multi-probe,
IVF-flat) must return genuinely similar vectors — validated against
the exact brute-force baseline — and be internally consistent."""

from __future__ import annotations

import pytest

from flink_repartition_watermark_example_spark.operators import similarity as SIM
from flink_repartition_watermark_example_spark.sources.tables import load_table


def _topk_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    return {q: sorted(v) for q, v in out.items()}


def test_ann_paths_recall_against_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _topk_map(SIM.cosine_topk(emb))
    for approx_df in (SIM.lsh_ann_topk(emb), SIM.ivf_topk(emb)):
        approx = _topk_map(approx_df)
        assert set(approx) == set(exact), "every query must get results"
        hits = total = 0
        for q in exact:
            exact_ids = {vid for _, vid, _ in exact[q]}
            approx_ids = {vid for _, vid, _ in approx[q]}
            assert len(approx_ids) <= 5
            # approximate scores can never exceed the exact best
            assert max(s for _, _, s in approx[q]) <= max(
                s for _, _, s in exact[q]
            ) + 1e-12
            hits += len(exact_ids & approx_ids)
            total += len(exact_ids)
        # random-hyperplane/IVF recall on 64-d synthetic data is modest
        # by construction; the contract is "well above chance", not
        # parity (chance ≈ k/corpus ≈ 1%).
        assert hits / total > 0.15, f"recall {hits/total:.2f} barely above chance"


def test_ivf_numpy_kernels_bit_identical_to_hof(spark, sf_dir):
    """The fold-exact numpy kernels must reproduce the interpreted
    higher-order-fold path EXACTLY — same rows, bit-identical doubles
    (== on floats, no tolerance).  This is the load-bearing claim that
    lets the gate path run vectorized while staying hash-comparable
    to the DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    for nprobe in (SIM.NPROBE, SIM.IVF_PRODUCTION_NPROBE):
        fast = sorted(map(tuple, SIM.ivf_topk(emb, nprobe=nprobe).collect()))
        hof = sorted(map(tuple, SIM.ivf_topk_hof(emb, nprobe=nprobe).collect()))
        assert fast == hof, nprobe


def test_ivf_assignment_is_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, SIM.ivf_topk(emb).collect()))
    b = sorted(map(tuple, SIM.ivf_topk(emb).collect()))
    assert a == b


def test_pq_adc_recall_against_exact_l2(spark, sf_dir):
    """ADC over 4×8 codes must stay well above chance vs the exact
    L2 ranking it approximates (chance ≈ 1%); codes must cover every
    corpus vector exactly once per subspace."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")

    codes = SIM.pq_codes(emb)
    assert codes.count() == emb.count()

    adc = {
        (r.query_id, r.vec_id)
        for r in SIM.pq_adc_topk(emb).collect()
    }
    qs = {q for q, _ in adc}

    v = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    qrows = {r.vec_id: r.v for r in v.where(F.col("vec_id") < 10).collect()}
    crows = [(r.vec_id, r.v) for r in v.where(F.col("vec_id") >= 10).collect()]
    hits = total = 0
    for q in qs:
        qv = qrows[q]
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, cv)), vid)
            for vid, cv in crows
        )
        exact_ids = {vid for _, vid in dists[:5]}
        approx_ids = {vid for qq, vid in adc if qq == q}
        hits += len(exact_ids & approx_ids)
        total += 5
    # 12-bit codes (4×3 bits) from an untrained fixed-row codebook on
    # synthetic near-uniform vectors quantize away most of the signal;
    # the contract is "several times chance" (chance ≈ k/corpus ≈ 1%),
    # not parity — reranking over full vectors is the production
    # second stage.
    assert total and hits / total > 0.05, f"ADC recall {hits/total:.2f}"


@pytest.mark.parametrize("n_cents", [None, 40])
def test_semantic_dedup_matches_python_reference(spark, sf_dir, n_cents):
    """Exact-equality property test for semantic_dedup against a
    direct numpy reference built from the SAME fold kernels — for the
    default 16-centroid index AND a 40-centroid one (the corpus-size
    lever the docstring prescribes: more centroids, smaller clusters,
    same operator)."""
    import numpy as np

    from flink_repartition_watermark_example_spark.operators.similarity import (
        CENTROID_IDS,
        _fold_dot_matrix,
        _fold_dot_rows,
        _fold_norm,
        semantic_dedup,
    )
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    cids = (
        None if n_cents is None else [10 + 7 * j for j in range(n_cents)]
    )
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["vec_id"], r["list_id"])
        for r in semantic_dedup(emb, centroids=cids).collect()
    }

    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([v for v, _ in rows])
    V = np.array([e for _, e in rows], dtype=np.float64)
    cid_list = np.array(sorted(cids or CENTROID_IDS))
    C = V[np.searchsorted(ids, cid_list)]
    cos = _fold_dot_matrix(V, C) / (
        _fold_norm(V)[:, None] * _fold_norm(C)[None, :]
    )
    lists = cid_list[np.argmax(cos, axis=1)]

    expected = set()
    nv = _fold_norm(V)
    for lid in np.unique(lists):
        m = lists == lid
        mids, MV, mnv = ids[m], V[m], nv[m]
        purged = set()
        for i in range(len(mids)):
            for j in range(i + 1, len(mids)):
                c = _fold_dot_rows(MV[i : i + 1], MV[j : j + 1])[0] / (
                    mnv[i] * mnv[j]
                )
                if c >= 0.25:
                    purged.add(mids[j])
        expected |= {
            (int(v), int(lid)) for v in mids if v not in purged
        }
    assert got == expected


def test_pq_codes_kernel_matches_expression_path(spark, sf_dir):
    """The fold-exact encode kernel must produce bit-identical codes
    to the interpreted expression path it replaced."""
    emb = load_table(spark, sf_dir, "embeddings")
    fast = sorted(map(tuple, SIM.pq_codes(emb).collect()))
    hof = sorted(map(tuple, SIM.pq_codes_hof(emb).collect()))
    assert fast == hof and len(fast) > 0


def test_filtered_ann_predicate_contract_and_pushdown(spark, sf_dir):
    """Every neighbor returned by the filtered-search variant must
    satisfy the metadata predicate, and the predicate must reach the
    parquet scan as a pushed In filter (pre-filter, not post-filter —
    the plan property that makes filtered search cheaper than topk'
    + discard at 100 TB)."""
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.plans.introspect import explain_str
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    df = EXTRA_QUERIES["ivf_ann_filtered_topk"].spark(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 50  # 10 queries x top-5
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    assert all(labels[r["vec_id"]] % 2 == 0 for r in rows)
    plan = explain_str(df)
    assert "In(label" in plan, "label IN filter not pushed to the scan"


def test_scaled_centroid_ids_matches_oracle_construction(spark, sf_dir):
    """The corpus-scaled centroid set (semantic_assign's int
    ``centroids``) must be exactly the set the semantic_dedup_scaled
    ORACLE derives in SQL: the first max(16, n // per_cluster) vec_ids
    >= 10, ascending — in both the collected (closure) and the
    rank-cut (relation) derivation.  Any drift between the
    constructions silently re-clusters the corpus."""
    from flink_repartition_watermark_example_spark.operators.similarity import (
        SEMDEDUP_PER_CLUSTER,
        _centroid_set,
        _collect_centroids,
    )
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    n = len(ids)

    for per_cluster in (SEMDEDUP_PER_CLUSTER, 20):
        k = max(16, n // per_cluster)
        want = [i for i in ids if i >= 10][:k]
        _, got_k, derive = _centroid_set(emb, per_cluster)
        got = [cid for cid, _ in _collect_centroids(derive(True))]
        assert got == want, (per_cluster, got[:5], want[:5])
        assert sorted(r["centroid_id"] for r in derive(False).collect()) == want
        assert got_k == k
        assert got == sorted(got)
        assert len(got) == k


def test_two_level_routing_degenerates_to_flat_at_full_probe(spark, sf_dir):
    """With nprobe >= the super count, every centroid is a candidate
    for every vector, so two-level routing must collapse to EXACTLY
    flat assignment — same fold kernels, same tiebreaks — and the
    survivor sets must be identical.  This pins the routing code
    against the flat reference without needing a third oracle."""
    import math

    from flink_repartition_watermark_example_spark.operators.similarity import (
        semantic_dedup,
    )
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cids = [
        r["vec_id"]
        for r in emb.where("vec_id >= 10")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(40)
        .collect()
    ]
    n_supers = math.ceil(len(cids) / math.ceil(math.sqrt(len(cids))))
    flat = {
        (r["vec_id"], r["list_id"])
        for r in semantic_dedup(emb, centroids=cids).collect()
    }
    full_probe = {
        (r["vec_id"], r["list_id"])
        for r in semantic_dedup(
            emb, centroids=cids, tier="two_level", nprobe=n_supers
        ).collect()
    }
    assert full_probe == flat
    # and a widened-but-partial probe purges at least as much as
    # nprobe=1 (recall is monotone in probe width)
    one = semantic_dedup(emb, centroids=cids, tier="two_level", nprobe=1).count()
    two = semantic_dedup(emb, centroids=cids, tier="two_level", nprobe=2).count()
    assert two <= one


def test_adaptive_nprobe_recovers_filtered_recall(spark, sf_dir):
    """The filtered path's recall must not fall below the unfiltered
    path's (round-9 starvation: fixed nprobe measured 0.8/5 vs 1.0/5
    at sf0.01; adaptive widening measured 1.5/5).  Mean hits@5 over
    the 10 query rows, integer-exact both sides."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    def mean_hits(name):
        rows = EXTRA_QUERIES[name].spark(spark, sf_dir).collect()
        return sum(r["hits"] for r in rows) / len(rows)

    assert mean_hits("ann_recall_filtered") >= mean_hits("ann_recall_ivf")


def test_production_nprobe_holds_point_nine_recall(spark, sf_dir):
    """The production probe width (VERDICT r10 #5): the registered
    IVF_PRODUCTION_NPROBE is the measured 0.9-recall crossing of the
    nprobe curve (scripts/record_nprobe_recall.py), and this pin
    replaces the old single-point 1.5/5 readout — mean recall@5 at
    that width must stay >= 0.9 on every test corpus."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    rows = EXTRA_QUERIES["ann_recall_ivf_production"].spark(
        spark, sf_dir
    ).collect()
    mean_recall = sum(r["hits"] for r in rows) / (5 * len(rows))
    assert mean_recall >= 0.9, mean_recall


def test_trained_production_nprobe_holds_point_nine_recall(spark, sf_dir):
    """The trained family's production point (VERDICT r11 #6):
    TRAINED_PRODUCTION_NPROBE is the trained-Lloyd curve's measured
    0.9-recall crossing (nprobe=12 vs the sampled index's 15) — mean
    recall@5 at that width must stay >= 0.9 on every test corpus."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    rows = EXTRA_QUERIES["ann_recall_ivf_trained_production"].spark(
        spark, sf_dir
    ).collect()
    mean_recall = sum(r["hits"] for r in rows) / (5 * len(rows))
    assert mean_recall >= 0.9, mean_recall


def test_ivf_scored_pair_bit_identical_to_independent_paths(spark, sf_dir):
    """The sampled-family pair (one scan keeping both sides' per-batch
    survivors) must reproduce BOTH sides of the recall composition
    exactly: approx == ivf_topk at the same
    nprobe, exact == cosine_topk — same rows, bit-identical doubles
    (== on floats, no tolerance), including the filtered variant with
    its adaptive probe widening."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")

    approx, exact = SIM.ivf_scored_pair(
        emb, nprobe_approx=SIM.IVF_PRODUCTION_NPROBE
    )
    assert sorted(map(tuple, approx.collect())) == sorted(
        map(tuple, SIM.ivf_topk(emb, nprobe=SIM.IVF_PRODUCTION_NPROBE).collect())
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, SIM.cosine_topk(emb).collect())
    )

    pred = F.col("label").isin(0, 2, 4, 6, 8)
    fa, fe = SIM.ivf_scored_pair(emb, nprobe_approx=SIM.NPROBE, corpus_pred=pred)
    assert sorted(map(tuple, fa.collect())) == sorted(
        map(tuple, SIM.ivf_topk(emb, corpus_pred=pred).collect())
    )
    assert sorted(map(tuple, fe.collect())) == sorted(
        map(tuple, SIM.cosine_topk(emb.where((F.col("vec_id") < 10) | pred)).collect())
    )


def test_topk_scans_hold_when_batches_are_smaller_than_k(spark, sf_dir):
    """The per-batch top-k cut (map-side combine) must not depend on
    batch size: with Arrow batches of 2 rows (k=5), every batch holds
    fewer than k rows and most hold no row of a query's probed lists,
    yet every scan must return exactly the rows it returns at the
    default batch size — and ivf_topk must still equal the
    interpreted-fold reference."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("label").isin(0, 2, 4, 6, 8)

    def run():
        pair = SIM.ivf_scored_pair(emb, nprobe_approx=SIM.NPROBE, corpus_pred=pred)
        dfs = {
            "cosine_topk": SIM.cosine_topk(emb),
            "ivf_topk": SIM.ivf_topk(emb),
            "ivf_topk_filtered": SIM.ivf_topk(emb, corpus_pred=pred),
            "ivf_topk_per_list": SIM.ivf_topk(emb, nprobe=8, per_list_top1=True),
            "ivf_scored_pair_approx": pair[0],
            "ivf_scored_pair_exact": pair[1],
            "pq_adc_topk": SIM.pq_adc_topk(emb),
        }
        return {name: sorted(map(tuple, df.collect())) for name, df in dfs.items()}

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = run()
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "2")
        small = run()
    finally:
        spark.conf.set(conf, saved)
    for name, rows in default.items():
        assert rows, name
        assert small[name] == rows, name
    assert small["ivf_topk"] == sorted(map(tuple, SIM.ivf_topk_hof(emb).collect()))
