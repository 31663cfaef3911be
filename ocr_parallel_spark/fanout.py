"""Scale-adaptive scan fan-out (optimization guide §2.2/§6).

A parquet scan yields one task per ``maxPartitionBytes`` split; a small
file therefore yields FEWER scan tasks than the machine has cores, and
every expression/Arrow stage pipelined onto the scan runs on that
handful of tasks while the rest of the box idles. At the sandbox's
benchmark scale ``documents.parquet`` is a single sub-split file, so the
whole catalog's per-row work — span hashing, n-gram explodes, MinHash
batches — was running on ONE core of 32.

``fan_out`` fixes the shape adaptively instead of with a constant: when
(and only when) the frame's planned partition count is below the
session's ``defaultParallelism``, it round-robin repartitions to that
parallelism. At production scale a 100 TB table scans as thousands of
splits, the condition is false, and the call is a zero-cost no-op — no
constant tuned to either environment (the round-6 rule). Round-robin
``repartition(n)`` is retry-safe (Spark sorts before repartition,
SPARK-23207) and every catalog consumer is order-insensitive.

``fan_out`` probes only plans whose every analyzed node is a scan,
filter, projection or alias; anything else (join, window, aggregate,
distinct, sort, sample, existing repartition, ...) is returned unchanged
— such frames either already carry shuffle parallelism or were fanned
upstream, and under AQE a partition probe of a plan with an exchange or
a broadcast build EXECUTES query stages (round-6 review finding). The
check walks the node classes, not the rendered plan, so a column named
``Union`` or ``Window`` does not change the decision.

The probe counts the partitions of the physical plan's scan leaf: its
RDD is built (the file splits are planned) but nothing runs and no code
is generated. ``df.rdd.getNumPartitions()`` gives the same number, but
first converts the plan into a Python RDD (``javaToPython``), which cost
about a second in a fresh session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Logical node classes whose partition probe is plan compilation only
# (a file scan is a LogicalRelation, rendered "Relation" in plan text).
_SCAN_CHAIN_NODES = frozenset(
    {"LogicalRelation", "Filter", "Project", "SubqueryAlias"}
)


def _is_scan_chain(df: DataFrame) -> bool:
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() not in _SCAN_CHAIN_NODES:
            return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return True


def scan_partitions(df: DataFrame) -> int:
    """Planned partition count of a scan chain (see module doc)."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    return sum(
        leaves.apply(i).execute().getNumPartitions() for i in range(leaves.size())
    )


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's core count iff it is a simple
    scan whose planned partitioning would leave cores idle. No-op (and
    no exchange) when the scan already fans wide — i.e. at any
    realistic corpus size — and for non-scan plans (see module doc)."""
    if not _is_scan_chain(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_partitions(df) < target:
        return df.repartition(target)
    return df
