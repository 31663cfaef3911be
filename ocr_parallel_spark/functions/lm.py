"""CCNet-style n-gram language-model "surprise" scoring.

The curation step between crawl and training that a quality classifier
cannot replace: CCNet (Wenzek et al. 2019) trains a small LM on a
trusted reference corpus and ranks crawl documents by perplexity —
gibberish, mojibake, and vocabulary soup score high; fluent text that
resembles the reference scores low. This module is that filter made
Spark-first and INTEGER-EXACT:

- ``fit_trigram_lm``: distributed trigram + context counts over the
  reference corpus (one explode + one partial-agg shuffle on the gram,
  then an unordered window sum over the already-distinct gram table for
  context totals — a join-free shape Catalyst cannot expand into a
  second corpus pass), pruned at ``min_count`` — the prune is what makes the model
  shippable: the singleton tail IS most of the gram space, and CCNet's
  deployed models prune the same way.
- ``doc_surprise``: score = per-position "bits of surprise". Instead of
  float log-probabilities (whose ln() is not bit-stable across engines)
  the surprise is the INTEGER bit-length contrast

      surprise(gram) = min(bitlen(c_ctx) - bitlen(c_gram) + 1, UNSEEN)

  with ``bitlen(n) = length(bin(n))`` — floor(log2)+1, which Spark's
  ``bin()`` and DuckDB's ``bin()`` compute identically, so the SQL
  oracle replays training AND scoring bit-for-bit (the repo-wide
  no-floats rule; see ``train_quality_weights`` for the same move on
  the classifier). The ``UNSEEN`` cap (default 24 ≈ one-in-16M) is
  both the out-of-model cost and an upper bound on in-model surprise,
  so "unseen is never cheaper than seen" holds at ANY corpus size —
  without the cap a 100 TB fit's context counts (bitlen > 24) would
  invert the ordering.

Positions are interior only (i in [1, n-2] over the token array, no
BOS/EOS padding): padding would make the start-of-document context a
corpus-wide hot key — every document joins it — whereas interior grams
spread across the gram space and AQE's skew handling covers the
natural "the of the" head. Documents with fewer than 3 tokens have no
positions and score NULL.

Scale shape at 100 TB: fit is one explode + one keyed partial agg +
one window shuffle (the window over the already-deduped gram table,
orders of magnitude smaller); scoring is the same explode + ONE hash join against the
pruned model (broadcastable when pruned hard; AQE decides) + a per-doc
partial agg. Nothing driver-side, no floats, no UDFs.

Reference analog: the reference's quality-path selection is a config
flag (app/config.py:36-43); a corpus-scale engine needs the measured
filter CCNet actually runs. Gates: exact per-doc oracle
(``lm_surprise``) + planted-taint mean-separation floor
(``lm_separation``) at >= 1.25x.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Out-of-model surprise AND the in-model cap (bits): unseen must never
# be cheaper than seen, at any fit-corpus size.
LM_UNSEEN_BITS = 24

# Prune threshold: grams seen once carry no contrast (bitlen(c)=1 tells
# you nothing) and ARE the bulk of the gram space.
LM_MIN_COUNT = 2


def _bitlen(c: Column) -> Column:
    """length(bin(n)) = floor(log2(n)) + 1 for n >= 1 — identical in
    Spark and DuckDB, the integer stand-in for log2."""
    return F.length(F.bin(c))


def trigram_positions(
    df: DataFrame,
    norm_col: str = "norm",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """One row per interior trigram position: (gram "w1 w2 w3",
    ctx "w1 w2") plus any ``id_cols`` carried through (the fit pass
    carries none — grams need no provenance). NULL text coalesces to
    '' (zero positions); docs with < 3 tokens emit no rows. The
    explicit n>=3 guard matters: Spark's sequence(1, n-2) DESCENDS
    for n < 3 instead of returning empty."""
    toks = F.split(F.coalesce(F.col(norm_col), F.lit("")), " ")
    n = F.size(toks)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    w = lambda off: F.element_at(F.col("_ts"), F.col("i") + off)
    return (
        df.select(*id_cols, toks.alias("_ts"), idx.alias("_idx"))
        .select(*id_cols, "_ts", F.explode("_idx").alias("i"))
        .select(
            *id_cols,
            F.concat_ws(" ", w(0), w(1), w(2)).alias("gram"),
            F.concat_ws(" ", w(0), w(1)).alias("ctx"),
        )
    )


def fit_trigram_lm(
    df: DataFrame,
    norm_col: str = "norm",
    min_count: int = LM_MIN_COUNT,
    unseen: int = LM_UNSEEN_BITS,
) -> DataFrame:
    """Fit the pruned trigram surprise model on a reference corpus.

    Returns (gram string, surprise long) with surprise already the
    capped bit-length contrast — the model ships per-gram cost, so
    scoring is a single equi-join. Context totals are derived by
    re-aggregating the gram-count table (NOT a second pass over the
    exploded positions): after the first partial-agg shuffle the gram
    table is distinct-gram-sized, and summing c3 by ctx over it is
    exactly c2."""
    from pyspark.sql import Window

    pos = trigram_positions(df, norm_col, id_cols=())
    tri = pos.groupBy("gram", "ctx").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    # Context totals as an unordered window sum over the DISTINCT-gram
    # table — NOT a groupBy + self-join, which Catalyst plans as two full
    # explode-and-count passes over the reference corpus (no subtree
    # reuse). The window re-shuffles only the distinct grams (orders of
    # magnitude smaller than the positions), so the corpus is scanned
    # and exploded exactly once.
    c2 = F.sum("c3").over(Window.partitionBy("ctx")).cast("long")
    return (
        tri.withColumn("c2", c2)
        .filter(F.col("c3") >= min_count)
        .select(
            "gram",
            F.least(
                (_bitlen(F.col("c2")) - _bitlen(F.col("c3")) + 1).cast(
                    "long"
                ),
                F.lit(unseen).cast("long"),
            ).alias("surprise"),
        )
    )


def doc_surprise(
    df: DataFrame,
    model: DataFrame,
    norm_col: str = "norm",
    unseen: int = LM_UNSEEN_BITS,
) -> DataFrame:
    """Score every doc against a fitted model: (doc_id, n_grams,
    sum_surprise, surprise_x16) where surprise_x16 is the average
    surprise in sixteenths-of-a-bit, computed with integer div (both
    engines floor for positives — never a float division). Docs with
    no positions (< 3 tokens) keep their row with n_grams = 0 and
    NULL surprise_x16 — a too-short doc is not evidence of gibberish
    and must not be silently dropped by the screen."""
    pos = trigram_positions(df, norm_col)
    scored = pos.join(
        model.select("gram", "surprise"), "gram", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("surprise"), F.lit(unseen).cast("long")).alias("s"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("s").cast("long").alias("sum_surprise"),
    )
    return (
        df.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias(
                "n_grams"
            ),
            F.coalesce(F.col("sum_surprise"), F.lit(0)).cast("long").alias(
                "sum_surprise"
            ),
            F.when(
                F.col("n_grams") > 0,
                F.expr("(16 * sum_surprise) div n_grams"),
            )
            .cast("long")
            .alias("surprise_x16"),
        )
    )
