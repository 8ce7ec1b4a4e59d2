"""Plan introspection (reference S12: `Main.scala:28` prints the
execution plan before launch).

Spark's `df.explain()` prints to stdout; these helpers return strings /
structured facts so tests and tooling can assert plan properties —
pushdown reached the scan, dims are broadcast, aggregation is
partial+final — instead of eyeballing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what Main.scala:28 printed)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


@dataclass(frozen=True)
class PlanFacts:
    """Structured properties of the physical plan that matter at scale."""

    n_exchanges: int
    has_broadcast_join: bool
    has_partial_aggregate: bool
    pushed_filters: bool
    read_schema_columns: int | None
    wholestage_codegen: bool


def optimized_logical_plan(df: DataFrame):
    """The optimized LOGICAL plan (a JVM ``LogicalPlan``) for batch or
    *unstarted* streaming frames.

    Streaming frames cannot reach ``queryExecution().optimizedPlan()``
    — the batch-execution check rejects any plan with a streaming
    source — but the standard optimizer (the same rule set
    ``IncrementalExecution`` applies to every micro-batch, including
    ``InferFiltersFromConstraints`` and predicate pushdown) can be run
    directly on the analyzed plan.  That is exactly what plan-shape
    tests need: where Catalyst *places* things, without running the
    stream."""
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    jss = df.sparkSession._jsparkSession  # type: ignore[attr-defined]
    return jss.sessionState().optimizer().execute(qe.analyzed())


def _iter_jnodes(jplan):
    """Pre-order walk of a JVM ``TreeNode`` plan via py4j."""
    yield jplan
    children = jplan.children()
    for i in range(children.size()):
        yield from _iter_jnodes(children.apply(i))


@dataclass(frozen=True)
class WatermarkShape:
    """One ``EventTimeWatermark`` node and the filters Catalyst placed
    BELOW it (between the watermark and the source).

    Rows dropped by a below-watermark filter never feed the watermark.
    Any predicate here must therefore be satisfiable by the
    watermark-driving control rows (the close sentinels of
    ``streaming/replica.write_close_sentinel``) — an inferred predicate
    that a sentinel cannot satisfy silently freezes that side's
    watermark."""

    event_time: str
    # (condition SQL, frozenset of referenced column names) per filter
    below_filters: tuple[tuple[str, frozenset], ...]


def watermark_shapes(df: DataFrame) -> list[WatermarkShape]:
    """Every watermark node in the optimized logical plan, with the
    filter predicates Catalyst pushed below it."""
    shapes = []
    for node in _iter_jnodes(optimized_logical_plan(df)):
        if node.nodeName() != "EventTimeWatermark":
            continue
        filters = []
        for sub in _iter_jnodes(node):
            if sub.nodeName() != "Filter":
                continue
            cond = sub.condition()
            refs = cond.references().toSeq()
            names = frozenset(refs.apply(i).name() for i in range(refs.size()))
            filters.append((cond.sql(), names))
        shapes.append(WatermarkShape(node.eventTime().name(), tuple(filters)))
    return shapes


def plan_facts(df: DataFrame) -> PlanFacts:
    s = explain_str(df, "formatted")
    read_cols = None
    for line in s.splitlines():
        if line.strip().startswith("ReadSchema:"):
            read_cols = line.count(",") + 1 if "struct<" in line else None
            break
    return PlanFacts(
        n_exchanges=s.count("Exchange"),
        has_broadcast_join="BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s,
        has_partial_aggregate="partial_" in s,
        pushed_filters="PushedFilters: [" in s
        and "PushedFilters: []" not in s,
        read_schema_columns=read_cols,
        wholestage_codegen="WholeStageCodegen" in s.replace("(formatted)", "")
        or "codegen id" in s,
    )
