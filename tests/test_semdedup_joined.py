"""Relational SemDeDup assignment (VERDICT r9 #2): above the closure
ceiling the two-level router keeps the centroid set a RELATION
end-to-end — broadcast exchange into a fold-exact per-candidate-row
kernel — with NO O(k) driver collect, and produces bit-identical
survivors to its closure form.  Every tier is reached through the one
entry point with a pinned ``tier=``."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators import similarity as SIM
from flink_repartition_watermark_example_spark.sources.tables import load_table


PER_CLUSTER = SIM.SEMDEDUP_PER_CLUSTER


def _survivors(df):
    return sorted((r["vec_id"], r["list_id"]) for r in df.collect())


def _ids(cent):
    return sorted(r["centroid_id"] for r in cent.collect())


def test_two_level_joined_is_bit_identical_to_closure_two_level(
    spark, sf_dir, monkeypatch
):
    """The fully-relational router (broadcast Lloyd-mean supers,
    shuffled child equi-join, struct-max argmaxes) reproduces the
    closure-path two-level assignment bit-for-bit — the k>=1e5
    recorder (scripts/record_semdedup_hier_k.py) runs THIS form.  The
    two-level tier ships its centroids as a relation above
    SEMDEDUP_CLOSURE_K_MAX, so a zero closure ceiling forces the
    relational form."""
    emb = load_table(spark, sf_dir, "embeddings")
    closure = _survivors(
        SIM.semantic_dedup(emb, centroids=PER_CLUSTER, tier="two_level", nprobe=2)
    )
    monkeypatch.setattr(SIM, "SEMDEDUP_CLOSURE_K_MAX", 0)
    joined = _survivors(
        SIM.semantic_dedup(emb, centroids=PER_CLUSTER, tier="two_level", nprobe=2)
    )
    assert closure == joined
    assert closure


def test_above_threshold_tier_never_collects_centroid_ids(
    spark, sf_dir, monkeypatch
):
    """Force the k > SEMDEDUP_CLOSURE_K_MAX branch and prove it works
    with the O(k) centroid collect PHYSICALLY unavailable:
    _collect_centroids is monkeypatched to raise.  per_cluster=20 puts
    sf0.001's 500 vectors at k=25 > a ceiling of 16, and the unpinned
    entry point must route two-level and still match the two-level
    closure form over the same scaled centroid set."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    per_cluster = max(1, n // 25)
    k = max(16, n // per_cluster)
    assert k > 16

    expected = _survivors(
        SIM.semantic_dedup(emb, centroids=per_cluster, tier="two_level")
    )

    def boom(*a, **kw):
        raise AssertionError("O(k) driver collect above the closure tier")

    monkeypatch.setattr(SIM, "_collect_centroids", boom)
    monkeypatch.setattr(SIM, "SEMDEDUP_CLOSURE_K_MAX", 16)
    got = _survivors(SIM.semantic_dedup(emb, centroids=per_cluster))
    assert got == expected
    assert got, "expected survivors"


def test_exact_kth_smallest_matches_sorted_rank(spark):
    rng = random.Random(7)
    # sparse, strided, shuffled ids — the gen_scale id shape that
    # banned rank-by-arithmetic
    vals = rng.sample(range(0, 10_000_000), 3000)
    df = spark.createDataFrame([(v,) for v in vals], "vec_id long")
    ordered = sorted(vals)
    for k in (1, 2, 17, 500, 1500, 3000):
        got = SIM.exact_kth_smallest(
            df, "vec_id", k, buckets=16, direct_limit=64
        )
        assert got == ordered[k - 1], k
    with pytest.raises(ValueError):
        SIM.exact_kth_smallest(df, "vec_id", 0)
    with pytest.raises(ValueError):
        SIM.exact_kth_smallest(df, "vec_id", 3001)


def test_scaled_centroids_df_clamps_k_to_eligible_count(spark):
    """ADVICE r10: on degenerate inputs (per_cluster small enough that
    max(16, n // per_cluster) exceeds the eligible count) the id-list
    twin truncates via limit(k) while the relational tier used to
    crash in the rank cut — both must derive the IDENTICAL set."""
    rows = [(i, [float(i % 7), 1.0]) for i in range(5, 25)]  # 20 rows, ids 5..24
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # eligible = ids >= 10 → 15 rows; per_cluster=1 → k = max(16, 20) = 20 > 15
    _, k, derive = SIM._centroid_set(emb, 1)
    ids = _ids(derive(True))
    assert _ids(derive(False)) == ids
    assert k == len(ids) == 15


def test_scaled_centroids_df_empty_eligible_set(spark):
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    _, k, derive = SIM._centroid_set(emb, PER_CLUSTER)
    assert k == 0
    assert _ids(derive(True)) == []
    with pytest.raises(ValueError, match="no eligible centroid"):
        SIM.semantic_dedup(emb, centroids=PER_CLUSTER)


def test_grouped_purge_bit_identical_to_pair_join_path(spark, sf_dir):
    """r13: _purge_within_lists moved from the list_id pair self-join +
    _score_pairs + anti-join to ONE grouped kernel per cluster.  The
    survivor set must equal the old path's exactly — same fold-order
    cosines, same >= threshold cut, lower-id representative wins."""
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.operators.similarity import (
        _purge_within_lists,
        _score_pairs,
        semantic_assign,
    )
    from flink_repartition_watermark_example_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = semantic_assign(emb).persist()
    assigned.count()
    try:
        # the pre-r13 pair-join purge, verbatim
        a, b = assigned.alias("a"), assigned.alias("b")
        pairs = a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("query_id"),
            F.col("a.v").alias("qv"),
            F.col("a.nv").alias("nqv"),
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.v").alias("v"),
            F.col("b.nv").alias("nv"),
        )
        purged = (
            _score_pairs(pairs)
            .where(F.col("cos_sim") >= 0.25)
            .select("vec_id")
            .dropDuplicates()
        )
        old = {
            (r["vec_id"], r["list_id"])
            for r in assigned.join(purged, "vec_id", "left_anti")
            .select("vec_id", "list_id")
            .collect()
        }
        new = {
            (r["vec_id"], r["list_id"])
            for r in _purge_within_lists(assigned, 0.25).collect()
        }
        assert new == old
        assert new  # non-degenerate
    finally:
        assigned.unpersist()


def test_purge_slab_cap_blocks_without_changing_survivors(
    spark, sf_dir, monkeypatch
):
    """The purge kernel derives its row block from the cluster size so
    each cosine slab stays under SEMDEDUP_PURGE_SLAB_BYTES.  A cap
    small enough to force one-row blocks gives exactly the survivors
    of a single block: on the whole corpus as one cluster (with and
    without indexed, non-fresh rows), and end to end through the
    entry point, whose workers must see the cap read on the driver."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    V = np.array([e for _, e in rows], dtype=np.float64)
    nv = SIM._fold_norm(V)
    for fresh in (np.ones(len(V), dtype=bool), np.arange(len(V)) % 50 != 0):
        one = SIM._purge_survivors(V, nv, fresh, 0.25, 8 * len(V) * len(V))
        tiny = SIM._purge_survivors(V, nv, fresh, 0.25, 8)
        assert tiny.tolist() == one.tolist()
        assert 0 < len(one) < fresh.sum()

    whole = _survivors(SIM.semantic_dedup(emb))
    monkeypatch.setattr(SIM, "SEMDEDUP_PURGE_SLAB_BYTES", 8)
    assert _survivors(SIM.semantic_dedup(emb)) == whole


def test_scaled_call_runs_fewer_jobs_than_the_old_dispatch(spark, sf_dir, count_jobs):
    """One semantic_dedup_scaled call, after a first call has cached
    its assignment, runs fewer Spark jobs than the 11 the tiered
    dispatch it replaced ran: one aggregate sizes the centroid set,
    one ordered collect fetches it, and no count() pins the
    persisted assignment."""
    from flink_repartition_watermark_example_spark.queries import QUERIES

    q = QUERIES["semantic_dedup_scaled"]
    q.spark(spark, sf_dir).collect()
    rows, jobs = count_jobs(lambda: q.spark(spark, sf_dir).collect())
    assert rows
    assert jobs < 11, jobs
