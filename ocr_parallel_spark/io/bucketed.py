"""Bucket-by-url storage (north_star: explicit bucket-by-url partitioning).

At 10^12 rows the dominant shuffles are all keyed by url (keep-first dedup,
result joins, resume anti-join). Writing both sides bucketed on the same
key with the same bucket count makes those joins **exchange-free**: Spark's
bucketed scan exposes the hash-partitioning, EnsureRequirements inserts no
Exchange, and only a per-bucket sort remains. This module is the parquet
equivalent of the Iceberg ``bucket(N, url)`` partition transform named in
SURVEY §7.2 step 5 (no Iceberg jar ships in this sandbox).

``tests/test_plans.py::test_bucketed_join_is_exchange_free`` pins the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_BUCKETS = 16


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    key: str = "url",
    n_buckets: int = DEFAULT_BUCKETS,
    sort: bool = True,
) -> None:
    """Write an external parquet table bucketed (and optionally sorted)
    by ``key``. Joins/aggregations on ``key`` between tables written with
    the same (key, n_buckets) run without a shuffle."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table_name)

