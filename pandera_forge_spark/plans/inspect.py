"""Inspect a DataFrame's executed (physical) plan as text.

All predicates work on the final SparkPlan string (the same text
``df.explain()`` prints, but with no expression list cut short), so
they see exactly what will run — after Catalyst optimization and AQE
planning, not the logical intent.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


_MAX_FIELDS = "spark.sql.debug.maxToStringFields"


def _full_text(df: DataFrame, plan) -> str:
    """``plan.toString()`` with no expression list cut short: plan text
    keeps ``spark.sql.debug.maxToStringFields`` (default 25) fields per
    list and drops the rest as "... N more fields", so a predicate
    looking for an expression in a wide aggregate would miss it. The
    limit is raised for the call and restored (or unset) afterwards."""
    conf = df.sparkSession.conf
    old = conf.get(_MAX_FIELDS, None)
    conf.set(_MAX_FIELDS, "1000000")
    try:
        return plan.toString()
    finally:
        if old is None:
            conf.unset(_MAX_FIELDS)
        else:
            conf.set(_MAX_FIELDS, old)


def executed_plan(df: DataFrame) -> str:
    """Physical plan text (post-optimizer, pre-execution), uncut."""
    return _full_text(df, df._jdf.queryExecution().executedPlan())


def optimized_plan(df: DataFrame) -> str:
    """Optimized logical plan text, uncut."""
    return _full_text(df, df._jdf.queryExecution().optimizedPlan())


def has_expand(df: DataFrame) -> bool:
    """True if the plan contains an Expand operator — the multi-
    distinct-aggregate row-multiplication the profiler must avoid."""
    return "Expand" in executed_plan(df)


def has_python_udf(df: DataFrame) -> bool:
    """True if any Python evaluation operator appears (BatchEvalPython
    = row-at-a-time UDF, ArrowEvalPython = pandas UDF, FlatMapsInPandas
    etc.). Hot-path operators must keep this False."""
    plan = executed_plan(df)
    return any(
        marker in plan
        for marker in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "FlatMapGroupsInPandas",
            "MapInPandas",
        )
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists from every file scan in the plan."""
    plan = executed_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def scan_read_schema(df: DataFrame) -> list[str]:
    """The ReadSchema strings from every file scan — verifies column
    pruning reached the parquet reader."""
    plan = executed_plan(df)
    return re.findall(r"ReadSchema: ([^\n]*)", plan)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen regions in the plan."""
    return len(re.findall(r"WholeStageCodegen", executed_plan(df)))


def plan_summary(df: DataFrame) -> dict:
    """One-glance plan facts for logging/benchmark reports."""
    plan = executed_plan(df)
    return {
        "expand": "Expand" in plan,
        "python_udf": has_python_udf(df),
        "broadcast_hash_join": "BroadcastHashJoin" in plan,
        "sort_merge_join": "SortMergeJoin" in plan,
        "shuffles": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobin)", plan)),
        "codegen_regions": whole_stage_codegen_spans(df),
        "pushed_filters": pushed_filters(df),
    }
