"""Bloom-filter sidecar for cross-run dedup prefiltering.

The cross-run exact dedup in curation_pipeline.py semi-joins every new
run's eligible docs against the COMMITTED kept-hash set. Correct — but at
10^12 committed documents that semi-join shuffles a multi-terabyte hash
column on every incremental run, even when the new slice contains almost
no cross-run duplicates (the steady-state crawl reality). The classic
fix (Bloom 1970, public) is a bit-array sidecar over the committed keys:

- ``bloom_build``: hash every committed key to ``n_hashes`` positions in
  an ``n_bits`` array and OR them into 64-bit words — a sparse
  ``(word_idx, word)`` table of at most ``n_bits/64`` rows, one shuffle
  whose payload is the word table (kilobytes to megabytes), computed
  once and persisted next to the snapshots.
- ``bloom_probe``: check a new key's positions with ``n_hashes``
  BROADCAST joins against the word table — zero shuffles on the corpus
  side. ``maybe_seen`` false => the key is definitely not committed
  (no false negatives, by construction: build and probe share the
  position derivation below); true => probably committed, verify
  exactly. Only the tiny maybe-seen slice pays the exact semi-join.
- ``bloom_merge``: bit-OR two word tables — the filter is MERGEABLE, so
  each run folds its newly committed keys in without rescanning the
  committed corpus (the append-only update path).

Sizing: FP rate ~ (1 - e^(-kn/m))^k for n keys, m bits, k hashes; at
10 bits/key and k=4 that is ~1.2%. The word table broadcasts while
m/8 bytes fits the broadcast budget (~10^10 committed keys at 10
bits/key is ~12 GB — beyond that, shard the filter by key prefix and
probe each shard's slice, same derivation). A false positive only
costs a redundant exact verify — never a wrong verdict.

Everything derives from sha2(key) hex slices — no rand(), no Python on
the hot path — so a DuckDB oracle replays build AND probe exactly: bit
p is set iff SOME committed key hashes to p, which is the position-set
semi-join the ``bloom_seen`` oracle uses (the bitmap and the position
set are definitionally equivalent; the gate pins that the word-packing
preserves it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 8 hex chars (32 bits) of the sha256 digest per hash function; the
# digest has 64 hex chars, so at most 8 independent slices.
BLOOM_MAX_HASHES = 8
# Hash functions per key: ~1.2% false positives at 10 bits per key. The
# curation job records it in its sidecar's lineage.
BLOOM_HASHES = 4


def _check_params(n_bits: int, n_hashes: int) -> None:
    if not 1 <= n_hashes <= BLOOM_MAX_HASHES:
        raise ValueError(f"bloom: n_hashes {n_hashes} outside 1..{BLOOM_MAX_HASHES}")
    if not (64 <= n_bits <= (1 << 32)) or n_bits % 64:
        raise ValueError(
            f"bloom: n_bits {n_bits} must be a multiple of 64 in [64, 2^32]"
        )


def _bloom_positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """Position i = hex slice i of sha256(key), mod n_bits — 32 bits of
    entropy per slice, identical math in Spark (conv) and DuckDB
    ('0x'||slice)::UBIGINT. NULL keys yield NULL positions (never set,
    never seen)."""
    h = F.sha2(key.cast("string"), 256)
    return [
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint") % n_bits
        for i in range(n_hashes)
    ]


def bloom_build(
    df: DataFrame, key_col: str, n_bits: int, n_hashes: int = BLOOM_HASHES
) -> DataFrame:
    """(word_idx, word) rows — the sparse 64-bit-word packing of the bit
    array over ``df``'s keys. One explode + one keyed agg whose output is
    bounded at n_bits/64 rows regardless of input size."""
    _check_params(n_bits, n_hashes)
    pos = df.select(
        F.explode(
            F.array(*_bloom_positions(F.col(key_col), n_bits, n_hashes))
        ).alias("pos")
    ).filter(F.col("pos").isNotNull())
    return (
        pos.select(
            F.floor(F.col("pos") / 64).cast("bigint").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two filters BUILT WITH THE SAME (n_bits, n_hashes):
    bit-OR overlapping words. bloom_merge(build(A), build(B)) ==
    build(A union B) exactly (pytest pins it) — the append-only update
    path for a persisted filter."""
    return (
        a.select("word_idx", "word")
        .unionByName(b.select("word_idx", "word"))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    words: DataFrame,
    n_bits: int,
    n_hashes: int = BLOOM_HASHES,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Add ``out_col``: true iff ALL of the key's positions are set.
    ``n_hashes`` broadcast joins against the word table — no exchange on
    ``df``'s side (plan-pinned in pytest), so probing 10^12 new rows
    costs a map-side pass. A word_idx absent from the sparse table is an
    all-zero word (coalesce 0). Must use the same (n_bits, n_hashes)
    the filter was built with — job_curate records them in the sidecar
    lineage and rebuilds on mismatch rather than probe wrong."""
    _check_params(n_bits, n_hashes)
    positions = _bloom_positions(F.col(key_col), n_bits, n_hashes)
    out = df
    hits: list[Column] = []
    for i, pos in enumerate(positions):
        out = out.withColumn(f"_bp{i}", pos)
        w = words.select(
            F.col("word_idx").alias(f"_bwi{i}"), F.col("word").alias(f"_bw{i}")
        )
        out = out.join(
            F.broadcast(w),
            F.floor(F.col(f"_bp{i}") / 64).cast("bigint") == F.col(f"_bwi{i}"),
            "left",
        )
        hits.append(
            F.coalesce(F.col(f"_bw{i}"), F.lit(0).cast("bigint")).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_bp{i} % 64 AS INT))")
            )
            != 0
        )
    maybe = hits[0]
    for h in hits[1:]:
        maybe = maybe & h
    # NULL keys have NULL positions -> NULL hits; the contract is
    # "never set, never seen", so the fold coalesces to a real false
    # (a NULL here would silently drop the row from BOTH the
    # maybe_seen slice and its complement).
    out = out.withColumn(out_col, F.coalesce(maybe, F.lit(False)))
    drop = [c for i in range(n_hashes) for c in (f"_bp{i}", f"_bwi{i}", f"_bw{i}")]
    return out.drop(*drop)
