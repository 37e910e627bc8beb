"""Physical-plan inspection helpers — keep the plans honest.

Used by tests to pin the plan shapes that matter at 100 TB: broadcast
joins on the query side, filter/column pushdown into parquet scans,
bounded shuffle (Exchange) counts, wide whole-stage-codegen spans.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    j_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(j_mode)


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame) -> list:
    """Node names of the physical plan the query will actually EXECUTE,
    in pre-order. Walks the tree JVM-side: a printed-plan regex
    over-matches because formatted/simple explain both include cached
    relations' DEFINITION subtrees for provenance — those already ran
    at cache-build time and don't re-execute per query. The walk stops
    at InMemoryTableScan leaves and enters an adaptive plan through its
    initial plan."""

    def walk(node) -> list:
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            return walk(node.initialPlan())
        names = [node.nodeName()]
        children = node.children()
        for i in range(children.size()):
            names += walk(children.apply(i))
        return names

    return walk(df._jdf.queryExecution().executedPlan())


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries the plan will actually EXECUTE
    (plan_nodes): ShuffleExchange nodes (nodeName "Exchange"), not
    BroadcastExchange (not a shuffle) or ReusedExchange (a reference,
    not an extra shuffle)."""
    return plan_nodes(df).count("Exchange")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df) or "BroadcastNestedLoopJoin" in plan_string(df)


def pushed_filters(df: DataFrame) -> str:
    plan = plan_string(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    return m.group(1) if m else ""


def read_schema(df: DataFrame) -> str:
    plan = plan_string(df)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    return m.group(1) if m else ""


def inmemory_scan_columns(df: DataFrame) -> list:
    """Column-name sets of the InMemoryTableScan LEAVES of the executed
    plan. Unlike regexing the printed tree, this excludes the cached
    relations' definition subtrees (printed for provenance but not
    re-executed per query)."""
    plan = df._jdf.queryExecution().executedPlan()
    # AQE wraps the plan in AdaptiveSparkPlanExec, itself a leaf node —
    # unwrap to the current physical plan underneath
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    leaves = plan.collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "InMemoryTableScan":
            continue
        attrs = leaf.output()
        out.append({attrs.apply(j).name() for j in range(attrs.size())})
    return out


def codegen_stage_count(df: DataFrame) -> int:
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan_string(df))))
