"""Web-corpus curation expressions: line synthesis, repetition signals,
deterministic stratified sampling, PII scrubbing, and the per-document
screen the curation composition runs first (``curate_docs``).

These extend the training-data toolkit (SURVEY §2.8 beyond-reference
scope) with the CCNet/Gopher-style curation steps a 100 TB text pipeline
runs between crawl and training: inter-document line dedup needs a
per-line frequency table (operators/linededup.py builds it on top of
``word_lines``); everything else here is pure column expressions —
whole-stage-codegen JVM work, zero Python, zero shuffle — so sampling or
scrubbing 10^12 docs is a single scan.

All expressions have exact DuckDB twins (see queries_catalog oracles):
line slicing matches DuckDB list slices, sha2 hex matches sha256(), and
every regex is written in the Java-regex/RE2 common subset (no
lookaround, no '$' — see functions/urls.py for the '$'-vs-'\\z' trap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.functions.text_quality import (
    LANG_PRECEDENCE,
    detect_lang_from_hits,
    stopword_hits_from_tokens,
    tokens_col,
)
from ocr_parallel_spark.functions.urls import host_col
from ocr_parallel_spark.operators.classify import normalize_col

TOKENS_PER_LINE = 8

# PII patterns in the Java-regex/RE2 common subset. Counts are taken
# per-kind on the ORIGINAL text, independently of replacement; note the
# email local part admits digits/dots/dashes, so a phone or IP embedded
# in an address ('555-867-5309@mail.com') counts under BOTH kinds while
# the email-first replacement absorbs it into one [EMAIL] token — counts
# are per-pattern detections, not a partition of the redacted spans.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
PII_TOKENS = {"email": "[EMAIL]", "phone": "[PHONE]", "ip": "[IP]"}


def word_lines(toks: Column, tokens_per_line: int = TOKENS_PER_LINE) -> Column:
    """Split a token array into an array of fixed-width "lines"
    (``tokens_per_line`` tokens each, last line ragged). Web text arrives
    with real newlines; the synthetic corpus is single-line, so the
    curation operators re-linearize deterministically — the downstream
    algebra (frequency tables, dup-line fractions) is line-source
    agnostic. Pure HOF expression: transform over a sequence of line
    indices, each slicing the shared token array."""
    n_lines = F.ceil(F.size(toks) / F.lit(float(tokens_per_line))).cast("int")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n_lines, F.lit(1))),
        lambda i: F.array_join(
            F.slice(toks, (i - F.lit(1)) * tokens_per_line + F.lit(1), tokens_per_line),
            " ",
        ),
    )


def word_ngrams(toks: Column, k: int) -> Column:
    """Sliding word k-gram array (space-joined). Guarded: F.sequence(1,
    n-k+1) DESCENDS when n < k (sequence(1,0) == [1,0]), so short docs
    get an explicit empty array instead of a garbage slide."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_bigrams(toks: Column) -> Column:
    """Adjacent word-bigram array (word_ngrams at k=2)."""
    return word_ngrams(toks, 2)


def stratified_keep(
    stratum: Column, id_col: Column, rates: dict[str, int], default_rate: int, seed: str
) -> tuple[Column, Column]:
    """Deterministic hash-rate stratified sampling: keep a row iff the
    first two hex chars of sha2(seed|stratum:id) fall below the stratum's
    threshold (rate is in 256ths: 64 -> 25%, 0 -> none, 256 -> all).
    Returns (bucket, kept). Pure map-side — sampling 100 TB is one scan,
    no shuffle, and the decision is reproducible from (seed, stratum,
    id) alone, so re-runs and the DuckDB oracle agree bit-for-bit.
    Thresholds compare lexicographically on the FIXED-WIDTH 2-char hex
    prefix (identical semantics in Spark, DuckDB, and any engine that
    prints lowercase hex) — which is exactly why rates are validated to
    0..256: f"{256:02x}" would be the 3-char '100' and compare
    lexicographically ('ff' < '100' is False), silently keeping ~6%
    instead of all, so the boundary rates bypass the compare."""

    def _keep(rate: int) -> Column:
        if not 0 <= rate <= 256:
            raise ValueError(f"stratified_keep: rate {rate} outside 0..256")
        if rate == 0:
            return F.lit(False)
        if rate == 256:
            return F.lit(True)
        return bucket < F.lit(f"{rate:02x}")

    key = F.concat(F.lit(seed + "|"), stratum, F.lit(":"), id_col.cast("string"))
    bucket = F.substring(F.sha2(key, 256), 1, 2)
    expr = _keep(default_rate)
    for name, rate in rates.items():
        expr = F.when(stratum == name, _keep(rate)).otherwise(expr)
    return bucket, expr


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts on the original text (bigint)."""
    return {
        kind: F.regexp_count(text, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def scrub_pii(text: Column) -> Column:
    """Replace every PII match with its redaction token. Email first:
    its character class includes '.-' runs, so scrubbing digits first
    could split an address; the reverse cannot happen (neither phone nor
    IP patterns match anything an email replacement emits)."""
    out = text
    for kind in ("email", "phone", "ip"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], PII_TOKENS[kind])
    return out


def curate_docs(docs: DataFrame, blocked_hosts: DataFrame) -> DataFrame:
    """The per-document curation screen: language ID, token count, PII
    count and the host blocklist. Each signal is a row-local projection
    or a broadcast join, so the screen needs no global view of the
    corpus (line frequencies and dup ranking run after it in
    curation_pipeline.py).

    ``blocked_hosts``: static DataFrame with a ``host`` column."""
    d = docs.withColumn("norm", normalize_col("text")).withColumn(
        "_toks", tokens_col(F.col("norm"))
    )
    for lang in LANG_PRECEDENCE:
        d = d.withColumn(
            f"_h_{lang}", stopword_hits_from_tokens(F.col("_toks"), lang)
        )
    hits = {lang: F.col(f"_h_{lang}") for lang in LANG_PRECEDENCE}
    counts = pii_counts(F.col("norm"))
    d = d.select(
        "doc_id",
        host_col(F.col("url")).alias("host"),
        detect_lang_from_hits(hits).alias("pred_lang"),
        F.size(F.col("_toks")).alias("n_tokens"),
        (counts["email"] + counts["phone"] + counts["ip"]).alias("n_pii"),
    )
    blocked = F.broadcast(
        # distinct AFTER lowercasing: caller rows that collide once
        # lowered ('Example.com' + 'example.com') would otherwise fan
        # every doc on that host into duplicate verdict rows through
        # the left join
        blocked_hosts.select(F.lower(F.col("host")).alias("host"))
        .distinct()
        .withColumn("_blocked", F.lit(True))
    )
    d = d.join(blocked, "host", "left")
    reason = (
        F.when(F.coalesce(F.col("_blocked"), F.lit(False)), F.lit("blocked"))
        .when(F.col("pred_lang") != "en", F.lit("lang"))
        .when(F.col("n_tokens") < 30, F.lit("too_short"))
        .when(F.col("n_pii") >= 2, F.lit("pii"))
    )
    return d.select(
        "doc_id",
        "host",
        "pred_lang",
        "n_tokens",
        "n_pii",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
    )


# Hashed-linear quality classifier (fastText application shape). The
# weight formula is a deterministic stand-in for trained weights — the
# pinned part is the PLUMBING: hashed bag-of-words, broadcast weight
# table, integer-exact milli-unit sum (never a division: Spark's div
# truncates toward zero, DuckDB's // floors, and score sums go
# negative). Shared verbatim by queries_catalog.q_quality_classifier
# (the oracle gate) and curation_pipeline.py's quality screen so the
# two cannot drift.
QC_BUCKETS = 256
QC_WEIGHT_MULT = 2654435761


def hashed_quality_scores(
    docs, norm_col: str = "norm", id_col: str = "doc_id"
):
    """Per-doc hashed-linear quality score: ``(id_col, n_tokens,
    score_mi)`` — exact bigint milli-unit sum of per-token bucket
    weights. One explode + one broadcast join + one keyed partial-agg
    shuffle; scan-bound at any corpus size."""
    spark = docs.sparkSession
    toks = docs.select(
        id_col, F.explode(F.split(F.col(norm_col), " ")).alias("_tok")
    )
    bucket = (
        F.conv(F.substring(F.sha2(F.col("_tok"), 256), 1, 4), 16, 10)
        .cast("long")
        % QC_BUCKETS
    )
    weights = spark.range(QC_BUCKETS).select(
        F.col("id").cast("long").alias("_bucket"),
        ((F.col("id") * QC_WEIGHT_MULT) % 1000 - 500).cast("long").alias("_wt"),
    )
    return (
        toks.select(id_col, bucket.alias("_bucket"))
        .join(F.broadcast(weights), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_wt").cast("long").alias("score_mi"),
        )
    )


# ---------------------------------------------------- trained classifier --
#
# The TRAINED quality classifier (VERDICT r4 #3): same hashed
# bag-of-words application shape as hashed_quality_scores, but the
# weight table is FIT against labeled docs instead of the stand-in
# formula. Training is closed-form and integer-exact: per bucket b,
# with n_low/n_ok = token occurrences in low/ok-labeled docs hashing
# to b and tot_* = total labeled tokens,
#
#     w(b) = +1  if  n_low*tot_ok > QT_RATIO * n_ok*tot_low
#                and n_low * QT_MIN_PROB_DEN >= tot_low
#     w(b) = -1  if  n_ok*tot_low > QT_RATIO * n_low*tot_ok
#                and n_ok * QT_MIN_PROB_DEN >= tot_ok
#     w(b) =  0  otherwise (dropped from the table)
#
# i.e. the sign of the rate log-odds, kept only where the odds clear a
# 2x margin AND the bucket carries real probability mass (>= 1/1024 of
# its class). The quantization is the point, not a compromise: a
# plain linear contrast w = n_low*tot_ok - n_ok*tot_low hands every
# NEUTRAL token a small negative bias (tot_low is inflated by the
# taint mass), which scales with document length and drowns the fixed
# taint bonus on long docs — measured recall 0.5 on the planted
# benchmark. The margin+support test zeroes neutral buckets exactly
# (their rate ratio sits near 1), so a doc's score counts
# discriminative evidence only. Every comparison is cross-multiplied
# bigint — no log, no division, nothing an oracle engine can round
# differently. Predict low-quality iff the doc's vote sum > 0.
#
# Scale note: weights are per-bucket corpus aggregates, so at 100 TB
# you fit them on a bounded deterministic SAMPLE of labeled docs (the
# cross-products stay within bigint for corpora up to ~10^9 labeled
# tokens; a sample of that size estimates 1024 bucket rates to far
# more precision than a 2x-margin test needs) and broadcast the
# resulting table — which holds ONLY the discriminative buckets —
# everywhere, identical to how the stand-in weights flow.
# Measured behavior on the planted-taint benchmark (mojibake, lorem
# repetition, PII boilerplate appended to one third of docs; see
# queries_catalog.q_quality_trained): precision and recall floors of
# 0.9 on a held-out split, pinned by the oracle-gated
# `quality_trained` query and tests/test_curation.py.

QT_BUCKETS = 1024
QT_RATIO = 2
QT_MIN_PROB_DEN = 1024


def quality_bucket(tok: Column, buckets: int = QT_BUCKETS) -> Column:
    """Token -> feature bucket: first 4 hex chars of sha2-256, mod
    ``buckets`` (the dsir_weights derivation; DuckDB twin
    ``('0x' || substr(sha256(tok),1,4))::UBIGINT % buckets``)."""
    return (
        F.conv(F.substring(F.sha2(tok, 256), 1, 4), 16, 10).cast("long")
        % buckets
    )


def train_quality_weights(
    docs,
    label_col: str = "label_low",
    norm_col: str = "norm",
    id_col: str = "doc_id",
    buckets: int = QT_BUCKETS,
):
    """Fit the ternary-vote weight table from labeled docs:
    ``(_bucket, _wt)`` with ``_wt`` in {-1, +1}, only discriminative
    buckets emitted (see the margin+support rule above). One explode +
    one keyed partial-agg shuffle + a one-row total broadcast — the
    same cost as scoring. Deterministic: no seeds, no floats."""
    # Same NULL convention as the scorers: a NULL-norm doc still
    # contributes (one '' token) instead of silently vanishing from
    # the training counts.
    toks = docs.select(
        F.col(label_col).alias("_low"),
        F.explode(
            F.split(F.coalesce(F.col(norm_col), F.lit("")), " ")
        ).alias("_tok"),
    )
    counts = toks.select(
        "_low", quality_bucket(F.col("_tok"), buckets).alias("_bucket")
    ).groupBy("_bucket").agg(
        F.sum(F.when(F.col("_low"), 1).otherwise(0)).cast("long").alias("_n_low"),
        F.sum(F.when(F.col("_low"), 0).otherwise(1)).cast("long").alias("_n_ok"),
    )
    totals = counts.agg(
        F.sum("_n_low").cast("long").alias("_tot_low"),
        F.sum("_n_ok").cast("long").alias("_tot_ok"),
    )
    low_rate = F.col("_n_low") * F.col("_tot_ok")
    ok_rate = F.col("_n_ok") * F.col("_tot_low")
    vote = (
        F.when(
            (low_rate > QT_RATIO * ok_rate)
            & (F.col("_n_low") * QT_MIN_PROB_DEN >= F.col("_tot_low")),
            F.lit(1),
        )
        .when(
            (ok_rate > QT_RATIO * low_rate)
            & (F.col("_n_ok") * QT_MIN_PROB_DEN >= F.col("_tot_ok")),
            F.lit(-1),
        )
        .otherwise(F.lit(0))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select("_bucket", vote.cast("long").alias("_wt"))
        .filter(F.col("_wt") != 0)
    )


def trained_quality_scores(
    docs,
    weights,
    norm_col: str = "norm",
    id_col: str = "doc_id",
    buckets: int = QT_BUCKETS,
):
    """Score docs against a trained weight table: ``(id_col, n_tokens,
    score)``; predict low-quality iff ``score > 0``. Buckets unseen in
    training weigh 0 (left join + coalesce). Same plan shape as
    hashed_quality_scores: explode, broadcast join, keyed partial
    agg."""
    # COALESCE before split: explode(NULL) would DROP the doc from the
    # output entirely, silently un-scoring it. '' instead splits to one
    # '' token (Spark and DuckDB string_split agree), so every input doc
    # keeps a row.
    toks = docs.select(
        id_col,
        F.explode(
            F.split(F.coalesce(F.col(norm_col), F.lit("")), " ")
        ).alias("_tok"),
    )
    return (
        toks.select(id_col, quality_bucket(F.col("_tok"), buckets).alias("_bucket"))
        .join(F.broadcast(weights), "_bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_wt"), F.lit(0))).cast("long").alias("score"),
        )
    )


# Planted low-quality taints for the trained-classifier benchmark (the
# gate plants them on a deterministic third of docs; job/test reuse the
# same constants so the "labeled corpus" is one source of truth).
# Tokens are chosen to be the real failure modes a web-corpus quality
# model screens: UTF-8-as-latin-1 mojibake runs, boilerplate/lorem
# repetition, and PII-dense contact footers.
QT_TAINTS = {
    "mojibake": " ".join(["ã¢â‚¬â„¢", "ãƒâ©", "ï¿½", "ã¢â‚¬å“", "ãƒâ¼"] * 6),
    "lorem": " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 6),
    "pii": " ".join(
        ["contact", "admin@example.com", "555-0100", "192.168.1.1"] * 6
    ),
}
