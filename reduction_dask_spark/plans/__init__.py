"""Plan-inspection helpers: assert the physical plan has the shape the
scale design calls for (SURVEY.md §4 — the Catalyst freebies are only
free if the query is written so they fire).

:func:`shape` is the one node counter. It walks the physical plan once
and counts each node once:

- AQE's initial plan stands in for the ``AdaptiveSparkPlan`` wrapper;
- every subquery (scalar, IN, dynamic-pruning) is walked;
- each distinct pinned relation's cached plan is walked once, however
  many ``InMemoryTableScan`` nodes read it (keyed on the cached plan's
  id). The plan STRING prints a cached plan under every scan of it, so
  grepping it overcounts shared work.

Used by tests/test_plans.py and tools/plan_audit.py to lock in:
- parquet predicate pushdown (PushedFilters) and column pruning
  (ReadSchema) on scans;
- broadcast joins on dim tables (no shuffle of the fact side);
- whole-stage codegen coverage of expression pipelines;
- partial aggregation (map-side combine) before shuffles;
- no single-partition (empty partition spec) windows;
- driver-built tables as LocalRelations, not Python-RDD scans.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every parquet scan in the plan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schemas(df: DataFrame) -> list[str]:
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema:" in line
    ]


def has_partial_aggregation(df: DataFrame) -> bool:
    plan = simple_plan(df)
    return "partial_" in plan or "PartialAggregate" in plan


def codegen_stages(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees (explain mode 'codegen';
    the AQE wrapper hides codegen markers in the plain plan tree)."""
    import re

    out = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen", out)
    return int(m.group(1)) if m else out.count("WholeStageCodegen")


def python_rdd_scans(df: DataFrame) -> int:
    """Count optimized-plan leaves that scan a Python RDD — the
    ``LogicalRDD``/``Scan ExistingRDD`` that ``createDataFrame`` on a list
    builds, where every scan starts Python worker tasks. Barrier
    (checkpoint) leaves are LogicalRDDs too but their lineage is
    truncated, so they do not count."""
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "LogicalRDD" and "PythonRDD" in node.rdd().toDebugString():
            n += 1
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return n


# shape()'s derived key: Window nodes whose partition spec is EMPTY,
# which move the entire relation to one partition (the `WindowExec: No
# Partition Defined` warning). Catalyst constant-folds literal partition
# keys away, so `partitionBy(F.lit(0))` lands here too; bounded-relation
# global orderings must use orderBy+limit (TakeOrderedAndProject), a
# triangular metadata join, or driver-side construction instead.
EMPTY_PARTITION_WINDOW = "EmptyPartitionWindow"


def _walk(df: DataFrame) -> Iterator[tuple[object, bool]]:
    """Yield ``(node, under_broadcast)`` for each node of the physical
    plan once, by the rule in the module docstring. ``under_broadcast``
    says a BroadcastExchange is an ancestor in the same tree; subqueries
    and cached plans start a new tree."""
    seen: set[int] = set()
    stack = [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, under = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append((node.initialPlan(), under))
            continue
        yield node, under
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            if cached.id() not in seen:
                seen.add(cached.id())
                stack.append((cached, False))
        under = under or name == "BroadcastExchange"
        for seq, flag in ((node.children(), under), (node.subqueries(), False)):
            for i in range(seq.size()):
                stack.append((seq.apply(i), flag))


def shape(df: DataFrame) -> Counter:
    """Physical node counts by ``nodeName()`` — ``Exchange`` (shuffles
    only; broadcasts are ``BroadcastExchange``), ``SortMergeJoin``,
    ``BroadcastHashJoin``, ``BroadcastNestedLoopJoin``,
    ``CartesianProduct``, ``Window``, ``BatchEvalPython``,
    ``InMemoryTableScan`` … — plus :data:`EMPTY_PARTITION_WINDOW`."""
    counts: Counter = Counter()
    for node, _ in _walk(df):
        name = node.nodeName()
        counts[name] += 1
        if name == "Window" and node.partitionSpec().isEmpty():
            counts[EMPTY_PARTITION_WINDOW] += 1
    return counts


def broadcast_leaves(df: DataFrame) -> list[str]:
    """Leaf node names under every BroadcastExchange of the physical
    plan, e.g. ``LocalTableScan`` for a driver-built table or ``Scan
    ExistingRDD`` for a Python-RDD one."""
    return [
        node.nodeName()
        for node, under in _walk(df)
        if under and node.children().size() == 0
    ]
