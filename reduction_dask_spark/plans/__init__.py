"""Plan-inspection helpers: assert the physical plan has the shape the
scale design calls for (SURVEY.md §4 — the Catalyst freebies are only
free if the query is written so they fire).

Used by tests/test_plans.py to lock in:
- parquet predicate pushdown (PushedFilters) and column pruning
  (ReadSchema) on scans;
- broadcast joins on dim tables (no shuffle of the fact side);
- whole-stage codegen coverage of expression pipelines;
- partial aggregation (map-side combine) before shuffles;
- driver-built tables as LocalRelations, not Python-RDD scans.
"""

from __future__ import annotations

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


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """SHUFFLE exchange count in the (pre-AQE) physical plan tree —
    broadcast and reused exchanges excluded (a broadcast is the cheap
    alternative to a shuffle, counting it would punish the right plan)."""
    import re

    tree = simple_plan(df)
    shuffles = 0
    for line in tree.splitlines():
        if re.search(r"\bExchange (hash|range|single|SinglePartition)", line) or (
            "Exchange" in line
            and "BroadcastExchange" not in line
            and "ReusedExchange" not in line
        ):
            shuffles += 1
    return shuffles


def empty_partition_windows(df: DataFrame) -> int:
    """Count WindowExec nodes whose partition spec is EMPTY — the nodes
    that move the entire relation to one partition (the `WindowExec: No
    Partition Defined` warning). Note Catalyst constant-folds literal
    partition keys away, so `partitionBy(F.lit(0))` still lands here;
    bounded-relation global orderings must use orderBy+limit
    (TakeOrderedAndProject), a triangular metadata join, or driver-side
    construction instead."""
    n = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "Window" and node.partitionSpec().isEmpty():
            n += 1
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.initialPlan())
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n


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


def broadcast_leaves(df: DataFrame) -> list[str]:
    """Leaf node names under every BroadcastExchange of the physical
    plan (AQE's initial plan), e.g. ``LocalTableScan`` for a
    driver-built table or ``Scan ExistingRDD`` for a Python-RDD one."""
    leaves: list[str] = []
    stack = [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, under = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append((node.initialPlan(), under))
            continue
        under = under or name == "BroadcastExchange"
        ch = node.children()
        if under and ch.size() == 0:
            leaves.append(name)
        for i in range(ch.size()):
            stack.append((ch.apply(i), under))
    return leaves
