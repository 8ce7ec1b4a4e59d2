"""Auto-tiered SemDeDup (VERDICT r11 #1): the unpinned entry point
picks its assignment tier from the pair-row (n*k) cost model instead
of asking the user to know the regime map.  Below
SEMDEDUP_PAIRROW_BUDGET it is a flat tier (what every oracle-compared
SF runs); above it, assignment routes through the two-level router
and the result is bit-identical to the registered semantic_dedup_hier
family."""

from __future__ import annotations

import pytest

from flink_repartition_watermark_example_spark.operators import similarity as SIM
from flink_repartition_watermark_example_spark.queries_similarity import (
    q_semantic_dedup_hier,
    q_semantic_dedup_scaled,
)
from flink_repartition_watermark_example_spark.sources.tables import load_table

SF_001 = "/root/testdata/sf0.001"
SF_01 = "/root/testdata/sf0.01"


def _survivors(df):
    return sorted((r["vec_id"], r["list_id"]) for r in df.collect())


def test_default_budget_keeps_the_flat_joined_tier(spark, sf_dir):
    """At every oracle-compared SF the chooser lands on the flat
    closure tier, so the flat oracle SQL stays the exact description
    of what the driver hash-checks for the gate query."""
    emb = load_table(spark, sf_dir, "embeddings")
    n, k, _ = SIM._centroid_set(emb, SIM.SEMDEDUP_PER_CLUSTER)
    assert SIM._choose_tier(n, k) == ("closure", True)
    assert _survivors(q_semantic_dedup_scaled(spark, sf_dir)), "expected survivors"


@pytest.mark.parametrize(
    "dir_",
    [SF_001, pytest.param(SF_01, marks=pytest.mark.slow)],
)
def test_routed_tier_is_bit_identical_to_hier_family(spark, monkeypatch, dir_):
    """Force the budget to zero: the unpinned gate query must route
    through the two-level tier — in its relational form, with the
    closure ceiling also at zero — and the result must be
    BIT-IDENTICAL to the registered semantic_dedup_hier query (the
    closure-path router) — i.e. above the budget the gate query's
    semantics are exactly the hier family's hash-exact oracle CTEs.
    Two SFs so the equality covers more than one k/component shape."""
    hier = _survivors(q_semantic_dedup_hier(spark, dir_))
    monkeypatch.setattr(SIM, "SEMDEDUP_PAIRROW_BUDGET", 0)
    monkeypatch.setattr(SIM, "SEMDEDUP_CLOSURE_K_MAX", 0)
    routed = _survivors(q_semantic_dedup_scaled(spark, dir_))
    assert routed == hier
    assert routed, "expected survivors"


def test_dispatch_boundary_is_exactly_the_budget(spark, sf_dir, monkeypatch):
    """n*k == budget stays flat; budget - 1 routes.  Read from the
    chooser's answer for this corpus's (n, k), so the test pins the
    boundary arithmetic itself, not a scale-dependent side effect;
    the k rule's boundary is pinned the same way."""
    emb = load_table(spark, sf_dir, "embeddings")
    n, k, _ = SIM._centroid_set(emb, SIM.SEMDEDUP_PER_CLUSTER)
    monkeypatch.setattr(SIM, "SEMDEDUP_PAIRROW_BUDGET", n * k)
    assert SIM._choose_tier(n, k) == ("closure", True)
    monkeypatch.setattr(SIM, "SEMDEDUP_CLOSURE_K_MAX", k - 1)
    assert SIM._choose_tier(n, k) == ("two_level", False)
    assert SIM._choose_tier(n, k, "two_level") == ("two_level", False)
    monkeypatch.setattr(SIM, "SEMDEDUP_PAIRROW_BUDGET", n * k - 1)
    assert SIM._choose_tier(n, k) == ("two_level", False)
    monkeypatch.setattr(SIM, "SEMDEDUP_CLOSURE_K_MAX", k)
    assert SIM._choose_tier(n, k) == ("two_level", True)
    for gone in ("joined", "relation"):
        with pytest.raises(ValueError, match="tier must be"):
            SIM._choose_tier(n, k, gone)


def test_unpinned_chooser_reaches_every_tier():
    """Every tier value is reachable from data: over a log grid of
    corpus sizes n from 1 to 1e10, with the production centroid rule
    k = max(16, n // SEMDEDUP_PER_CLUSTER), the unpinned chooser picks
    each of SEMDEDUP_TIERS somewhere.  A tier no corpus reaches is
    code only a pinned query runs.  No Spark."""
    chosen = set()
    for e in range(101):
        n = round(10 ** (e / 10))
        k = max(16, n // SIM.SEMDEDUP_PER_CLUSTER)
        chosen.add(SIM._choose_tier(n, k)[0])
    assert chosen == set(SIM.SEMDEDUP_TIERS)
