"""Deduplication — the reference's signature optimization, Spark-first.

SURVEY §2.4. The reference dedups request rows by key before the expensive
per-page call (/root/reference/app/utils/deduplication.py:24-61) with
explicit keep-FIRST semantics (first occurrence wins, insertion order
preserved) and logs the savings (:54-59). Plain ``dropDuplicates`` is
nondeterministic about *which* row survives, so keep-first is expressed as
a ``row_number`` window over an explicit order column — deterministic at
any parallelism level.

At web scale the same savings come from content identity: sha-256 over the
normalized extracted text (exact, D4) and SimHash banding (near, see
``neardup.py``). Both run BEFORE downstream expensive stages, mirroring the
reference's dedup-before-work plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def keep_first(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    flag_col: str | None = None,
) -> DataFrame:
    """Keep-first dedup (D2): one survivor per key — the row that sorts
    first by ``order_cols`` (e.g. earliest warc_ts = first crawl wins).

    With ``flag_col`` set, rows are kept and marked instead of dropped
    (needed by the map-back join J1). One shuffle on ``key_cols``; at scale
    the shuffle is the unavoidable cost of global identity — pre-bucketed
    storage on the same key makes it a zero-exchange sort.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    ranked = df.withColumn("_rn", F.row_number().over(w))
    if flag_col is not None:
        return ranked.withColumn(flag_col, F.col("_rn") > 1).drop("_rn")
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def content_key(text_col: str = "text") -> F.Column:
    """D4 exact-content identity: sha-256 over the (already normalized)
    extracted text. JVM built-in — stays inside whole-stage codegen."""
    return F.sha2(F.col(text_col), 256)


def mark_exact_content_dups(
    df: DataFrame,
    text_col: str = "text",
    order_cols: list[str] = ("warc_ts", "url"),
) -> DataFrame:
    """Add ``content_sha256``, ``is_exact_dup`` (true for every row whose
    text was already seen on an earlier row) and ``rep_url`` (the keeper's
    url). Error rows (NULL text) are never dup-marked."""
    hashed = df.withColumn(
        "content_sha256",
        F.when(F.col(text_col).isNotNull(), content_key(text_col)),
    )
    # NULL-text error rows must not share ONE window partition: at crawl
    # scale a ~1% error rate funnels billions of rows through a single
    # task for outputs the when() guards mask anyway. Spreading them by
    # url keeps every partition bounded; the \x00 prefix cannot collide
    # with a hex sha. The key is a column, not an expression, so
    # row_number and first share one window and one exchange.
    hashed = hashed.withColumn(
        "_dk",
        F.coalesce(
            F.col("content_sha256"), F.concat(F.lit("\x00"), F.col("url"))
        ),
    )
    w = Window.partitionBy("_dk").orderBy(*[F.col(c) for c in order_cols])
    return (
        hashed.withColumn(
            "_rn",
            F.when(F.col("content_sha256").isNotNull(), F.row_number().over(w)),
        )
        .withColumn("is_exact_dup", F.coalesce(F.col("_rn") > 1, F.lit(False)))
        .withColumn(
            "rep_url",
            F.when(
                F.col("content_sha256").isNotNull(),
                F.first("url").over(w),
            ),
        )
        .drop("_rn", "_dk")
    )


def dedup_savings(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """D3 duplicate accounting: total vs unique vs duplicates
    (deduplication.py:54-59; README.md:190-193 worked example)."""
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("unique_rows"),
        (
            F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in key_cols])
        ).alias("duplicate_rows"),
    )


def excise_repeated_spans(
    docs: DataFrame,
    text_col: str = "norm",
    id_col: str = "doc_id",
    w: int = 15,
) -> DataFrame:
    """Exact-substring span SURGERY (the removal half of Lee et al.'s
    'Deduplicating Training Data Makes Language Models Better', public):
    q_repeated_spans only MARKS docs carrying cross-corpus repeated
    windows; this operator excises the repeated tokens from every
    NON-CANONICAL copy. A token is removed iff it is covered by some
    w-token stride-1 window whose hash occurs in >= 2 distinct docs and
    whose canonical owner (min id, the engine's keep-first canon) is a
    different doc — the canonical doc keeps its copy, so no content is
    lost from the corpus, and boilerplate paragraphs quoted across pages
    vanish from all but one.

    Plan shape: one explode to (id, start, 32-byte hash) rows (~1 row
    per token — window TEXT never leaves the map side, exactly the
    repeated_spans discipline), one hash-keyed agg for (doc-frequency,
    owner), one join-back, then per-doc bad-start arrays drive an
    in-row token filter — position p drops iff a bad start lies in
    [p-w+1, p]. The rebuild cost is O(tokens x bad_starts) per doc,
    paid ONLY by docs that have bad windows (clean docs skip via the
    left join's NULL). At 100 TB run the two-pass shape: winnowed
    fingerprints (q_winnowed_spans, ~2/(w+1) of stride-1 rows) flag
    candidate docs first, then this surgery runs on the flagged slice
    — detection tolerates winnowing's sampling, removal needs stride-1
    coverage, so the cheap pass gates the exact one."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    d = docs.select(id_col, toks.alias("_toks"))
    n = F.size("_toks")
    # guard: sequence(1, n-w+1) DESCENDS for n < w (Spark semantics)
    wins_arr = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.struct(
                i.cast("int").alias("i"),
                F.sha2(F.array_join(F.slice(F.col("_toks"), i, w), " "), 256)
                .alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,h:string>>"))
    wins = d.select(id_col, F.explode(wins_arr).alias("_s")).select(
        id_col, F.col("_s.i").alias("_i"), F.col("_s.h").alias("_h")
    )
    stats = wins.groupBy("_h").agg(
        F.count_distinct(id_col).alias("_nd"), F.min(id_col).alias("_owner")
    )
    bad = (
        wins.join(stats.filter(F.col("_nd") >= 2), "_h")
        .filter(F.col("_owner") != F.col(id_col))
        .groupBy(id_col)
        .agg(F.collect_list("_i").alias("_bad"))
    )
    out = docs.select(id_col, toks.alias("_toks")).join(bad, id_col, "left")
    badc = F.coalesce(F.col("_bad"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_toks"),
        lambda t, p: ~F.exists(
            badc, lambda s: (s <= p + 1) & (s >= p + 2 - w)
        ),
    )
    return out.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("deduped_text"),
    )
