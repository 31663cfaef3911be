"""Count-Min Sketch for heavy-hitter discovery at corpus scale.

Cormode & Muthukrishnan 2005 (public): a depth x width counter grid;
every key increments one cell per row (position = a sha2 hex slice of
the key, mod width — the same derivation family as functions/bloom.py),
and a key's ESTIMATE is the min of its depth cells. Estimates never
undercount (each of the key's cells holds its true count plus
non-negative collision mass), so "estimate >= threshold" has NO false
negatives — the candidate-prefilter property.

Why it matters at 100 TB: exact frequency of every line/n-gram (the
boilerplate-discovery groupBy behind line dedup) shuffles one row per
DISTINCT key — at crawl scale, billions of singletons shuffle just to
prove they are singletons. The sketch is a map-side-combinable agg
whose state is bounded at depth x width cells regardless of input
(kilobytes to megabytes); heavy-hitter CANDIDATES read off the sketch,
and only candidates pay an exact verification count — the same
prefilter-then-verify shape as the Bloom dedup sidecar. The grid is
MERGEABLE: the cell-wise sum of two grids built with the same
(width, depth) equals the grid of the combined input (pytest-pinned).

Fully deterministic — no rand(), no Python on the hot path — so the
DuckDB oracle replays build AND estimate cell-for-cell (``cms_heavy``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 8 hex chars (32 bits) of the sha256 digest per grid row.
CMS_MAX_DEPTH = 8


def _check_params(width: int, depth: int) -> None:
    if not 1 <= depth <= CMS_MAX_DEPTH:
        raise ValueError(f"cms: depth {depth} outside 1..{CMS_MAX_DEPTH}")
    if not 2 <= width <= (1 << 32):
        raise ValueError(f"cms: width {width} outside [2, 2^32]")


def _cms_cols(key: Column, width: int, depth: int) -> list[Column]:
    """Row i's column = hex slice i of sha256(key), mod width — identical
    math in Spark (conv) and DuckDB ('0x'||slice)::UBIGINT. NULL keys
    yield NULL positions (contribute nothing, estimate nothing)."""
    h = F.sha2(key.cast("string"), 256)
    return [
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint") % width
        for i in range(depth)
    ]


def cms_build(
    df: DataFrame, key_col: str, width: int, depth: int = 4
) -> DataFrame:
    """(row_idx, col_idx, cnt) cells over ``df``'s key MULTISET (every
    occurrence counts). One explode + one keyed agg bounded at
    depth x width output rows; the partial agg combines map-side, so
    the shuffle carries cells, not occurrences."""
    _check_params(width, depth)
    cols = _cms_cols(F.col(key_col), width, depth)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_idx"), c.alias("col_idx")
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("_c")
    ).select("_c.row_idx", "_c.col_idx")
    return (
        cells.filter(F.col("col_idx").isNotNull())
        .groupBy("row_idx", "col_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    df: DataFrame,
    key_col: str,
    cms: DataFrame,
    width: int,
    depth: int = 4,
    out_col: str = "est_count",
) -> DataFrame:
    """Add ``out_col`` = min over the key's depth cells — >= the key's
    true multiset count, == for collision-free keys. ``depth`` broadcast
    joins against the (bounded) cell table; no exchange on ``df``'s
    side. A missing cell means the key was never built: estimate 0."""
    _check_params(width, depth)
    # The grid is consumed by ``depth`` differently-filtered broadcast
    # builds; without a boundary each broadcast re-runs the full grid
    # aggregation (they canonicalize differently, so exchange reuse
    # cannot dedupe them). The grid is bounded at depth x width cells —
    # materializing it once is safe at any corpus size (round 6).
    cms = cms.localCheckpoint(eager=False)
    cols = _cms_cols(F.col(key_col), width, depth)
    out = df
    ests: list[Column] = []
    for i, c in enumerate(cols):
        out = out.withColumn(f"_cc{i}", c)
        cm = cms.filter(F.col("row_idx") == i).select(
            F.col("col_idx").alias(f"_cci{i}"), F.col("cnt").alias(f"_cn{i}")
        )
        out = out.join(
            F.broadcast(cm), F.col(f"_cc{i}") == F.col(f"_cci{i}"), "left"
        )
        ests.append(F.coalesce(F.col(f"_cn{i}"), F.lit(0).cast("bigint")))
    out = out.withColumn(out_col, F.least(*ests) if len(ests) > 1 else ests[0])
    drop = [c for i in range(depth) for c in (f"_cc{i}", f"_cci{i}", f"_cn{i}")]
    return out.drop(*drop)
