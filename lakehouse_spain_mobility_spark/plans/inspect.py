"""Physical-plan inspection helpers: the engine's 'did Catalyst do what we
designed for' checks (SURVEY §4.3 — broadcast hints, pushdown, pruning
are query-authoring concerns; these helpers make them assertable).

Used by tests to lock in plan shapes: a future change that silently turns
a broadcast join into a sort-merge join, or drops a parquet filter
pushdown, fails the suite — the 100 TB design contract is enforced, not
hoped for.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_broadcast_joins(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin", executed_plan(df)))


def count_sortmerge_joins(df: DataFrame) -> int:
    return len(re.findall(r"SortMergeJoin", executed_plan(df)))


def count_shuffled_hash_joins(df: DataFrame) -> int:
    return len(re.findall(r"ShuffledHashJoin", executed_plan(df)))


def count_nested_loop_joins(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", executed_plan(df)))


def count_shuffles(df: DataFrame) -> int:
    """Exchange operators in the plan (AQE may later coalesce them, but
    each is a map/reduce boundary)."""
    return len(re.findall(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)",
                          executed_plan(df)))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — column-pruning evidence. Long schemas are
    truncated by Spark's plan printer ("...strin..."), so capture to the
    closing ``>`` or end-of-line, whichever first."""
    return re.findall(r"ReadSchema: struct<([^>\n]*)", executed_plan(df))


def final_plan(df: DataFrame) -> str:
    """Post-execution plan: collect() executes THIS DataFrame's query so
    AQE finalizes it (count() would execute a different derived plan and
    leave this one initial)."""
    df.collect()
    return executed_plan(df)


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Codegen stages render as ``*(n)`` markers in the final plan."""
    return "*(" in final_plan(df)


def audit_counts(df: DataFrame) -> tuple[int, int, int]:
    """(parquet scans, in-memory/local scans, ReusedExchange nodes) in the
    FINAL executed tree of an already-executed DataFrame — the redundant-
    execution detector behind scripts/plan_audit.py. High scans with low
    reuse flags a re-derived subtree (the round-7 pagerank defect shape);
    the AdaptiveSparkPlan "Initial Plan" section is cut (it re-prints every
    node and shows pre-reuse duplication that never executes). Caller must
    have executed THIS DataFrame (collect), else the plan is still initial."""
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    return (
        len(re.findall(r"Scan parquet", plan)),
        len(re.findall(r"Scan ExistingRDD|LocalTableScan", plan)),
        len(re.findall(r"ReusedExchange", plan)),
    )
