"""Structured plan inspection.

The reference verifies its optimizer with golden plan-shape tests
(tests/planner/*.planner.sql, SURVEY §5 layer 2). The Spark equivalent is
asserting properties of the Catalyst plan tree: filters reached the
parquet scan, projection was pruned to the read schema, small dimensions
broadcast, aggregates have a map-side partial phase. These are the
properties that decide whether a plan survives a 100× scale-up.

Checks read the plan's own nodes and fields (``nodeName()``,
``pushedDownFilters()``, ``outputPartitioning()``, ...) through
:func:`plan_nodes`, never the explain text.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain text of ``df``, for display only (dumps, messages)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def seq(scala_seq) -> list:
    """A Scala collection (Seq, AttributeSet, ...) as a Python list."""
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(plan, logical: bool = False) -> list:
    """Every node of a Catalyst plan, each once, parents before children.

    ``plan`` is a DataFrame (its executed physical plan, or its optimized
    logical plan when ``logical``) or a JVM plan node. The walk descends
    ``AdaptiveSparkPlanExec.executedPlan()``, every ``*QueryStageExec.plan()``
    and each node's ``subqueries()`` (scalar subqueries, dynamic partition
    pruning), which Catalyst keeps outside ``children()``. A subtree that
    two subqueries share is walked once, and reused exchanges and
    subqueries are yielded but not entered: their plan is walked where it
    first appears. An ``InMemoryTableScan`` is followed into its cached
    relation's plan, as formatted explain prints it.
    """
    if isinstance(plan, DataFrame):
        qe = plan._jdf.queryExecution()
        plan = qe.optimizedPlan() if logical else qe.executedPlan()
    seen = SparkContext._jvm.java.util.IdentityHashMap()  # type: ignore[union-attr]
    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if seen.put(node, True) is not None:  # walked already
            continue
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        out.append(node)
        if name.startswith("Reused"):
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        # pushed in reverse so the pop order is children first-to-last,
        # then subqueries
        stack.extend(reversed(seq(node.subqueries())))
        stack.extend(reversed(seq(node.children())))
    return out


def node_names(plan, logical: bool = False) -> list[str]:
    """Names of the nodes :func:`plan_nodes` walks in ``plan``, stripped
    (a scan of an unnamed relation is ``"Scan parquet "``). ``plan`` may
    also be the node list a walk already returned."""
    nodes = plan if isinstance(plan, list) else plan_nodes(plan, logical)
    return [n.nodeName().strip() for n in nodes]


def exchange_keys(nodes, partitioning: str = "HashPartitioning") -> list[list[str]]:
    """Key columns of each shuffle Exchange among ``nodes`` that is
    partitioned by ``partitioning`` (``HashPartitioning``, ``RangePartitioning``)."""
    parts = (n.outputPartitioning() for n in nodes if n.nodeName() == "Exchange")
    return [
        [a.name() for a in seq(p.references())]
        for p in parts
        if p.getClass().getSimpleName() == partitioning
    ]
