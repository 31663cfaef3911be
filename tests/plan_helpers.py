"""Physical-plan text helpers for the plan-shape tests: the plan SHAPE is
a first-class deliverable at 100 TB (a silently-regressed broadcast or a
lost pushdown is a 100x cost bug no row-count test catches)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (same content as df.explain, returned
    instead of printed)."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def count_nodes(df: DataFrame, node: str) -> int:
    """Distinct physical nodes of a type in the formatted plan. Counts
    node ids, not textual occurrences — a cached subtree is PRINTED at
    every reuse site but executes once."""
    p = plan_string(df, "formatted")
    ids = set(re.findall(rf"\((\d+)\) {re.escape(node)}\b", p))
    if ids:
        return len(ids)
    # simple-mode fallback for nodes the formatted summary elides
    return plan_string(df, "simple").count(node)
