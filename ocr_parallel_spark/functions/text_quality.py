"""Training-data text analysis: language ID, quality scoring, token
counting, fingerprinting.

All pure column expressions (JVM, whole-stage codegen) — the SQL-oracle-able
half of the training-pipeline toolkit. These generalize the reference's
text heuristics (SURVEY §2.8 F2-F4) to corpus curation at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny, fixed stopword inventories per language — heuristic language ID by
# stopword-hit counting (deterministic, SQL-expressible; a real deployment
# would drop in fastText via a pandas UDF behind the same column contract).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
}

LANG_PRECEDENCE = ["en", "es", "fr", "de"]


def tokens_col(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def stopword_hits_from_tokens(toks: Column, lang: str) -> Column:
    """Stopword-hit count over a pre-tokenized column. Prefer this on hot
    paths: passing raw text re-splits it inside every hit expression."""
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def detect_lang_from_hits(hits: dict[str, Column]) -> Column:
    """Language case-expression over precomputed per-language hit counts
    (materialize them as columns — referenced here each count appears
    several times). Ties resolve by fixed precedence (en > es > fr > de);
    all-zero => 'und'."""
    best = F.greatest(*[hits[lang] for lang in LANG_PRECEDENCE])
    expr = F.lit("und")
    for lang in reversed(LANG_PRECEDENCE):
        expr = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def token_count_ws(text_col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text_col))


def token_count_re(text_col: Column | str) -> Column:
    """BPE-ish token count: ``\\w+`` runs (sub-word units approximated by
    word runs; punctuation excluded)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(r"(\w+)"), 1))


def quality_features(
    text_col: Column | str, toks: Column | None = None
) -> dict[str, Column]:
    """Quality-scoring features: length, token count, mean token length,
    stopword ratio, alpha ratio, punctuation ratio. Round at call sites.
    Pass a pre-materialized ``toks`` column on hot paths (otherwise the
    token split is built inline in two of the features)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if toks is None:
        toks = tokens_col(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.lower(c), r"[^a-z]", ""))
    punct_chars = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    en_hits = stopword_hits_from_tokens(toks, "en")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.when(n_tokens > 0, n_chars / n_tokens).otherwise(
            F.lit(0.0)
        ),
        "stopword_ratio": F.when(n_tokens > 0, en_hits / n_tokens).otherwise(
            F.lit(0.0)
        ),
        "alpha_ratio": F.when(n_chars > 0, alpha_chars / n_chars).otherwise(
            F.lit(0.0)
        ),
        "punct_ratio": F.when(n_chars > 0, punct_chars / n_chars).otherwise(
            F.lit(0.0)
        ),
    }


def fingerprint_prefix(text_col: Column | str, n_tokens: int = 12) -> Column:
    """Document fingerprint: md5 of the first ``n_tokens`` whitespace
    tokens — a cheap, SQL-oracle-able prefix fingerprint. (The rolling-hash
    winnowing variant lives in the kernel as part of MinHash.)"""
    toks = tokens_col(text_col)
    return F.md5(F.array_join(F.slice(toks, 1, n_tokens), " "))
