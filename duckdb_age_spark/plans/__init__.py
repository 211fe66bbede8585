"""Physical-plan inspection utilities.

The scale story lives or dies in the physical plan: a dimension join that
shuffles instead of broadcasting, a scan that reads every column for a
2-column projection, or a filter evaluated above an exchange instead of at
the source all become cluster-killers at 100 TB.  These helpers make plan
properties assertable in tests (tests/test_plans.py) so regressions are
caught the same way wrong answers are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges).  Counts
    the detail-section headers ``(N) Exchange`` — the tree section repeats
    each node, so a raw substring count doubles."""
    import re

    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.MULTILINE))


def count_executed_exchanges(df: DataFrame) -> int:
    """Number of distinct shuffle exchanges in the plan that RAN — for a
    frame already executed, whose formatted AQE plan prints every stage
    twice (final and initial plan) and :func:`count_exchanges` would
    double.  Walks the final plan through query stages and into cached
    relations; a cache read by several scans counts once."""
    seen = set()

    def walk(node) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name.endswith("QueryStage"):
            return walk(node.plan())
        if name == "InMemoryTableScan":
            return walk(node.relation().cachedPlan())
        if name == "Exchange":
            seen.add(node.id())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return len(seen)


def count_scans(df: DataFrame) -> int:
    """Number of source scans in the plan (parquet or local-relation leafs).
    Counts the detail-section headers so each physical scan counts once.
    A query whose logical DAG consumes the same input through k branches
    scans the source k times — the repeated-pass defect the r15
    optimization round removed from the histogram-stats family."""
    import re

    plan = formatted_plan(df)
    return len(
        re.findall(r"^\(\d+\) Scan (?:parquet|ExistingRDD)", plan, re.MULTILINE)
    ) + len(re.findall(r"^\(\d+\) LocalTableScan", plan, re.MULTILINE))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from parquet scans."""
    out = []
    for line in formatted_plan(df).splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:"):
            out.append(s[len("PushedFilters:") :].strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries — what each scan actually reads (column pruning)."""
    return [
        line.strip()[len("ReadSchema:") :].strip()
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("ReadSchema:")
    ]


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present (HashAggregate with partial functions)."""
    plan = simple_plan(df)
    return "partial_" in plan


def codegen_stage_count(df: DataFrame) -> int:
    plan = formatted_plan(df)
    ids = {line.split("codegen id :")[-1].strip() for line in plan.splitlines() if "codegen id :" in line}
    return len(ids)
