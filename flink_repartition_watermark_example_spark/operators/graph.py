"""Distributed iterative graph operators.

The one graph computation a curation pipeline genuinely needs is
connected components over the near-duplicate pair graph: LSH + jaccard
verification emits PAIRS, but the deliverable is CLUSTERS — the
transitive closure (a≈b, b≈c ⇒ {a,b,c} share one representative even
when a and c were never proposed as a pair).

This is inherently iterative, so it is the one operator family where a
driver-side loop over DataFrame actions is the *correct* Spark shape
(each round is fully distributed).  The reference engine has no graph
surface; this extends the dedup family (operators/dedup.py) to its
standard end point.  ``connected_components`` is the alternating
large-star/small-star contraction of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC'14): O(log n) rounds on any
graph, vs O(component diameter) for plain min-label propagation (kept
below as :func:`connected_components_minlabel`, the easy-to-audit twin
the property tests cross-check against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every neighbor v of u with v > u is re-linked
    to m(u) = min(N(u) ∪ {u}).  One symmetric explode + one hash agg +
    one equi-join back on u — all keyed on vertex id."""
    sym = e.select("__a", "__b").union(
        e.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    )
    m = (
        sym.groupBy("__a")
        .agg(F.min("__b").alias("__mn"))
        .select("__a", F.least("__mn", "__a").alias("__m"))
    )
    return (
        sym.join(m, "__a")
        .where(F.col("__b") > F.col("__a"))
        .select(F.col("__b").alias("__a"), F.col("__m").alias("__b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient each edge high→low; every low neighbor
    (and u itself) is linked to m(u) = min of u's low neighborhood."""
    o = e.select(
        F.greatest("__a", "__b").alias("__a"), F.least("__a", "__b").alias("__b")
    ).where(F.col("__a") != F.col("__b"))
    m = o.groupBy("__a").agg(F.min("__b").alias("__m"))
    relink = (
        o.join(m, "__a")
        .where(F.col("__b") != F.col("__m"))
        .select(F.col("__b").alias("__a"), F.col("__m").alias("__b"))
    )
    direct = m.select("__a", F.col("__m").alias("__b"))
    return relink.union(direct).distinct()


# Budget for the bounded-collect union-find tier: 1M (a, b) longs is
# a ~30 MB driver collect — safely inside the O(centroids)/O(buckets)
# bounded-collect discipline.  Since r12 every CC call site passes it:
# the dispatch probes the pinned edge count first, so an in-budget
# graph (micro-batch label graphs ALWAYS; the capped batch pair graphs
# at bench/test SFs) is labeled in one collect, and a corpus whose
# pair graph outgrows the budget falls through to the distributed
# star-contraction automatically — the scale-adaptive tier discipline
# of the SemDeDup tier chooser (similarity._choose_tier).
DRIVER_CC_MAX_EDGES = 1_000_000


def _unionfind_labels(rows) -> dict[int, int]:
    """Min-root union-find over collected (a, b) edge rows: the root
    of every set is its minimum member (union attaches the larger
    root under the smaller), so labels match the distributed CC's
    min-reachable-vertex contract exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = int(row["__a"]), int(row["__b"])
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {v: find(v) for v in parent}


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "v",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(vertex, component) with component = min vertex id reachable.

    Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14): each round re-links vertices toward their neighborhood
    minimum, provably converging in O(log n) rounds — independent of
    component diameter, which is what makes it the 100 TB shape (a
    chain-shaped component of length d costs min-label d rounds but
    star contraction only O(log d)).  Every phase is hash-agg +
    equi-join on vertex id; no per-row driver work, no collect of
    vertex data.

    The edge set is ``localCheckpoint``-ed up front — it is typically
    the output of the whole LSH near-dup chain, and without truncation
    every iteration would re-execute that upstream pipeline inside the
    join.  Each round's result is checkpointed too: the plan otherwise
    doubles per iteration and Catalyst analysis goes exponential.  On
    a real cluster with executor-loss concerns, swap in reliable
    ``checkpoint()``; semantics are identical.

    Convergence is detected by an (edge-count, xxhash64 sum) checksum —
    two scalar aggregates of the checkpointed edges, no driver-side
    edge data.  At the fixpoint every edge is (member, component-min),
    so labels fall out of one min-agg; ``vertices`` supplies isolated
    vertices, which become singleton components via the left join.

    Edges are treated as undirected and may contain duplicates or
    self-loops (dropped up front).

    ``driver_max_edges`` enables a BOUNDED-COLLECT small tier (the
    SemDeDup tier-chooser discipline): when the deduplicated edge
    count is within the budget, the edges collect to the driver and a
    min-root union-find labels them in O(E α(E)) — one job instead of
    O(log n) shuffle rounds with per-round checkpoints.  Callers pass
    it only where the edge set is structurally bounded (the streaming
    cluster map's per-micro-batch LABEL graph — O(batch pairs)
    regardless of corpus age); corpus-scale batch CC keeps the
    distributed contraction, and oversized inputs fall through to it
    automatically.  Labels are identical by construction (min member
    of each component; property-tested against both distributed
    implementations).
    """
    e = edges.select(
        F.col(src_col).alias("__a"), F.col(dst_col).alias("__b")
    ).where(F.col("__a") != F.col("__b"))

    if driver_max_edges is not None:
        # Adaptive dispatch probes the RAW (self-loop-free) edge count,
        # which bounds the distinct count — so the bounded tier needs
        # NO distinct shuffle at all: union-find absorbs duplicate
        # edges natively (find/union are idempotent).  Measured r12:
        # the old distinct -> checkpoint -> count -> collect sequence
        # was 3 jobs + a shuffle per bounded CC call; now ONE
        # limit-probed collect does both the budget check and the
        # fetch (budget+1 rows caps the driver transfer exactly like
        # the count probe did).  Callers opt in only for structurally
        # bounded graphs, so the oversized fallthrough — which pays
        # one extra upstream execution for the probe — is the rare
        # path, and it pins the edges before the contraction rounds
        # exactly as before.
        probe = e.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            labels = _unionfind_labels(probe)
            spark = vertices.sparkSession
            if labels:
                roots = spark.createDataFrame(
                    [(int(v), int(l)) for v, l in labels.items()],
                    "__a long, __lbl long",
                )
            else:
                roots = spark.createDataFrame([], "__a long, __lbl long")
            return (
                vertices.select(F.col(vertex_col).alias("__v"))
                .join(F.broadcast(roots), F.col("__v") == F.col("__a"), "left")
                .select(
                    F.col("__v").alias(vertex_col),
                    F.coalesce("__lbl", "__v").alias("component"),
                )
            )
        # Oversized: fall through to the distributed contraction —
        # dedup once (contraction rounds multiply duplicates
        # otherwise); the distinct+checkpoint below pins the edge set
        # before the rounds, as always.

    e = e.distinct().localCheckpoint(eager=True)

    def _chk(df: DataFrame):
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI
        return df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("__a", "__b").cast("decimal(38,0)")),
        ).collect()[0]

    prev = tuple(_chk(e))
    for _ in range(max_iter):
        if prev[0] == 0:
            break
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = tuple(_chk(e))
        if cur == prev:
            break
        prev = cur

    roots = e.groupBy("__a").agg(F.min("__b").alias("__lbl"))
    return (
        vertices.select(F.col(vertex_col).alias("__v"))
        .join(roots, F.col("__v") == F.col("__a"), "left")
        .select(
            F.col("__v").alias(vertex_col),
            F.coalesce("__lbl", "__v").alias("component"),
        )
    )


def connected_components_minlabel(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "v",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation twin of :func:`connected_components` —
    label(v) ← min(label(v), min label over neighbors) to a fixpoint.

    O(component-diameter) rounds, so the star contraction supersedes it
    as the production path; kept because its correctness is obvious by
    inspection, which makes it the ideal cross-check in the property
    tests (both implementations must agree on random graphs).
    Convergence via the global label sum: labels only decrease, so an
    unchanged sum IS the fixpoint.
    """
    sym = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).union(edges.select(F.col(dst_col).alias("__s"), F.col(src_col).alias("__d")))
    sym = sym.localCheckpoint(eager=True)

    labels = vertices.select(
        F.col(vertex_col).alias("__v"), F.col(vertex_col).alias("__lbl")
    ).localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("__lbl")).collect()[0][0]

    for _ in range(max_iter):
        msgs = sym.join(labels, sym["__s"] == labels["__v"]).select(
            F.col("__d").alias("__v"), F.col("__lbl")
        )
        labels = (
            labels.union(msgs)
            .groupBy("__v")
            .agg(F.min("__lbl").alias("__lbl"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("__lbl")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum

    return labels.select(
        F.col("__v").alias(vertex_col), F.col("__lbl").alias("component")
    )


# PageRank fixed-point geometry: ranks are integer micro-units
# (SCALE = 1e9) and the damping factor is the rational 17/20 (= 0.85),
# so every update is integer multiply / integer divide — exactly
# reproducible across engines and partition orders, unlike float
# PageRank whose sums depend on reduction order.
PAGERANK_SCALE = 1_000_000_000
PAGERANK_D_NUM = 17
PAGERANK_D_DEN = 20


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    vertex_col: str = "v",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    n_iter: int = 10,
) -> DataFrame:
    """Weighted PageRank, fixed-point: (vertex, rank_q) after exactly
    ``n_iter`` synchronous iterations, rank_q in 1e-9 units.

      r'(v) = BASE + (17 · Σ_{u→v} (r(u)·w_uv) DIV wout(u)) DIV 20
      BASE  = (3 · SCALE) DIV (20 · N)          (teleport term, 1−d = 3/20)
      r0    = SCALE DIV N

    Each iteration is one broadcast-size join of ranks onto the edge
    list plus a hash aggregation of integer contributions — the
    canonical distributed shape; at web scale the rank table shuffles
    by dst instead of broadcasting, same plan.  Dangling mass is not
    redistributed (both engines implement the identical simplification,
    so the oracle comparison is exact).  Lineage is truncated per
    iteration as in :func:`connected_components`.
    """
    n = nodes.count()
    base = (3 * PAGERANK_SCALE) // (PAGERANK_D_DEN * n)

    wout = edges.groupBy(src_col).agg(F.sum(weight_col).alias("__wout"))
    e = edges.join(wout, src_col).select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
        F.col(weight_col).alias("__w"),
        "__wout",
    ).localCheckpoint(eager=True)

    ranks = nodes.select(
        F.col(vertex_col).alias("__v"),
        F.lit(PAGERANK_SCALE // n).cast("long").alias("__r"),
    ).localCheckpoint(eager=True)

    for _ in range(n_iter):
        contribs = (
            e.join(ranks, e["__s"] == ranks["__v"])
            .select(
                F.col("__d"),
                F.expr("(__r * __w) DIV __wout").alias("__c"),
            )
            .groupBy("__d")
            .agg(F.sum("__c").alias("__cs"))
        )
        ranks = (
            ranks.select("__v")
            .join(contribs, ranks["__v"] == contribs["__d"], "left")
            .select(
                "__v",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PAGERANK_D_NUM} * coalesce(__cs, 0L)) DIV {PAGERANK_D_DEN}"
                    )
                ).cast("long").alias("__r"),
            )
            .localCheckpoint(eager=True)
        )

    return ranks.select(
        F.col("__v").alias(vertex_col), F.col("__r").alias("rank_q")
    )
