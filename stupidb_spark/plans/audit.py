"""Introspection helpers over Spark physical plans (EXPLAIN FORMATTED)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of a DataFrame's physical plan."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed down to the parquet scan (empty ⇒ nothing pushed)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_fields(df: DataFrame) -> list[list[str]]:
    """Column lists each parquet scan actually reads (pruning evidence)."""
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        fields = [f.split(":")[0].strip() for f in m.group(1).split(",") if f]
        scans.append(fields)
    return scans


def has_node(df: DataFrame, node: str) -> bool:
    """Whether the physical plan contains an operator (e.g.
    'BroadcastHashJoin', 'TakeOrderedAndProject', 'SortMergeJoin')."""
    return node in formatted_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the (initial) physical plan.

    Counts unique numbered ``(N) Exchange`` nodes (broadcast exchanges are
    data *distribution*, not a shuffle — excluded); EXPLAIN FORMATTED names
    each node twice (tree + detail), so the match is on the detail header.
    """
    return len(set(re.findall(r"\((\d+)\) Exchange\b", formatted_plan(df))))


def executed_final_plan(df: DataFrame) -> str:
    """The FINAL adaptive plan string, after executing the DataFrame.

    AQE defers exchange reuse to runtime (the static plan shows duplicated
    subtrees with no ``ReusedExchange``); runtime-only properties like stage
    reuse can only be pinned on the post-execution plan. Triggers a full
    ``collect`` — use on small fixtures only.
    """
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # drop the "== Initial Plan ==" tail AQE appends after the final plan
    return plan.split("== Initial Plan ==")[0]

