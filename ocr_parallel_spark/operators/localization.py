"""Token localization: tokenize, variant expansion, theta-join scoring.

SURVEY §2.3 J2 + §2.8 F2-F4. Reference semantics
(/root/reference/app/utils/text_localization.py):

- tokenize (F2, :115-139): uppercase, collapse spaces, strip dashes, split
  on separators, drop tokens < 2 chars, add digit runs.
- variants (F3, :142-165): expand via a synonym map (broadcast-side).
- match (F4, :168-199): fraction of tokens present in uppercased text —
  digits word-boundary-bounded, words by substring — matched at >= 0.6.
- localization (J2, :202-268): all-pairs targets x chunks theta-join kept
  where score >= threshold.

Spark-first: the targets side is tiny (10-500 rows, reference design
envelope), so the join is an explicit ``broadcast`` nested-loop join; the
score is a pure column expression (``aggregate`` over the token array) that
runs inside codegen — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.config import MATCH_THRESHOLD


def tokenize(name_col: Column | str) -> Column:
    """F2: searchable token array from an entity name (distinct, order by
    first appearance is irrelevant — set semantics downstream)."""
    c = F.col(name_col) if isinstance(name_col, str) else name_col
    norm = F.regexp_replace(F.upper(F.trim(c)), r"\s+", " ")
    norm = F.regexp_replace(norm, r"\s*-\s*", " ")
    words = F.filter(
        F.split(norm, r"[\s\-_,]+"), lambda t: F.length(t) >= 2
    )
    digits = F.regexp_extract_all(c, F.lit(r"(\d+)"), 1)
    return F.array_distinct(F.concat(words, digits))


# F3 synonym dictionary (the MECHANISM mirrors the reference's ~60-entry
# map with reverse lookup, text_localization.py:14-112,142-165; the
# CONTENT is generic data-engineering vocabulary, not the reference's
# domain dictionary). Keys and values are pre-tokenized uppercase terms.
GENERIC_SYNONYMS: dict[str, list[str]] = {
    "MERGE": ["JOIN", "COMBINE"],
    "SORT": ["ORDER", "ARRANGE"],
    "SCAN": ["READ", "SWEEP"],
    "ROW": ["RECORD", "TUPLE"],
    "COLUMN": ["FIELD", "ATTRIBUTE"],
    "TABLE": ["RELATION"],
    "QUERY": ["STATEMENT"],
    "FAST": ["QUICK", "RAPID"],
    "SLOW": ["SLUGGISH"],
    "BIG": ["LARGE", "HUGE"],
    "SMALL": ["TINY"],
    "BATCH": ["BULK"],
    "STREAM": ["FLOW", "PIPE"],
    "VECTOR": ["EMBEDDING"],
    "HASH": ["DIGEST", "CHECKSUM"],
    "KEY": ["INDEX"],
    "GROUP": ["CLUSTER"],
    "WINDOW": ["FRAME", "PANE"],
    "VALUE": ["AMOUNT"],
    "PART": ["SEGMENT", "PIECE"],
}


def synonym_member_groups(
    synonyms: dict[str, list[str]],
) -> dict[str, list[str]]:
    """Member -> full synonym group, covering BOTH directions of the
    reference's lookup (text_localization.py:154-163): a KEY token adds
    its synonyms (forward); a VALUE token adds the key and all its
    synonyms (reverse). A token appearing in several groups gets their
    union. Shared with the SQL oracle generator so both engines expand
    identically."""
    member_groups: dict[str, set[str]] = {}
    for key, vals in synonyms.items():
        group = set([key, *vals])
        for m in group:
            member_groups.setdefault(m, set()).update(group)
    return {m: sorted(g) for m, g in sorted(member_groups.items())}


def expand_variants(
    tokens_col: Column, synonyms: dict[str, list[str]] | None = None
) -> Column:
    """F3: union tokens with their synonym groups, forward AND reverse
    (text_localization.py:142-165). The dict ships in the plan as a
    literal map (broadcast by value — it is tiny)."""
    if synonyms is None:
        synonyms = GENERIC_SYNONYMS
    if not synonyms:
        return tokens_col
    groups = synonym_member_groups(synonyms)
    pairs = [
        x
        for member, group in groups.items()
        for x in (F.lit(member), F.array(*[F.lit(g) for g in group]))
    ]
    syn_map = F.create_map(*pairs)
    expanded = F.flatten(
        F.transform(
            tokens_col,
            lambda t: F.coalesce(F.try_element_at(syn_map, t), F.array(t)),
        )
    )
    return F.array_distinct(expanded)


def wordify(upper_text: Column) -> Column:
    """Collapse non-word chars to single spaces and pad — turns
    ``\\b``-bounded matching into plain substring containment. The word
    class is ``\\p{L}\\p{N}_`` (all Unicode letters/digits), matching
    the REFERENCE's Python ``\\b`` (text_localization.py:190), which is
    Unicode: in 'CESIÓN123' there is NO boundary before the digits, so
    token '123' must not hit — an ASCII class would space out the 'Ó'
    and invent one. ``\\p{L}\\p{N}`` parses identically in Java regex
    and RE2, so the SQL oracles replay the same class."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(upper_text, r"[^\p{L}\p{N}_]+", " "),
        F.lit(" "),
    )


def match_texts(text_col: str, prefix: str) -> dict[str, Column]:
    """``match_hits``' per-row inputs: ``<prefix>upper`` and
    ``<prefix>wordified`` of ``text_col``, to be made as columns below a
    join, shuffle or generator (see :func:`match_hits`)."""
    upper = F.upper(F.col(text_col))
    return {f"{prefix}upper": upper, f"{prefix}wordified": wordify(upper)}


def match_hits(
    tokens_col: Column, upper_col: Column, wordified_col: Column
) -> Column:
    """F4's hit count: digit tokens match word-bounded (padded containment
    in the wordified text), word tokens by plain substring. THE single
    definition of the matching semantics — localize, match_score, the
    boundary per-page re-match, and the variants query all call this so
    they cannot drift apart. Callers should pass MATERIALIZED columns for
    ``upper_col``/``wordified_col``: expressions referenced inside the
    aggregate lambda re-evaluate per token."""
    return F.aggregate(
        tokens_col,
        F.lit(0),
        lambda acc, t: acc
        + F.when(
            t.rlike(r"^\d+$"),
            F.when(
                wordified_col.contains(F.concat(F.lit(" "), t, F.lit(" "))), 1
            ).otherwise(0),
        ).otherwise(F.when(upper_col.contains(t), 1).otherwise(0)),
    )


def match_score(tokens_col: Column, text_col: Column) -> Column:
    """F4: fraction of tokens present in the uppercased text. Digit tokens
    need word boundaries; word tokens match by substring. Pure expression
    (aggregate over the array) — whole-stage codegen, no Python.

    Word-boundary check without a per-token dynamic regex: non-word chars
    are collapsed to single spaces ONCE per row (the Unicode word class —
    see :func:`wordify` for why ASCII would diverge from the reference's
    Python ``\\b``), so ``\\b123\\b`` becomes a plain
    ``contains(' 123 ')`` over the padded wordified text — the
    per-(row, token) work is substring search, never regex compilation.

    NOTE: this convenience form builds upper/wordified inline, which the
    aggregate lambda re-evaluates per token. On hot paths materialize
    them as columns first and call ``match_hits`` directly (see localize).
    """
    upper_text = F.upper(text_col)
    wordified = wordify(upper_text)
    hits = match_hits(tokens_col, upper_text, wordified)
    return F.when(F.size(tokens_col) > 0, hits / F.size(tokens_col)).otherwise(
        F.lit(0.0)
    )


def localize(
    targets: DataFrame,
    chunks: DataFrame,
    tokens_col: str = "tokens",
    text_col: str = "chunk_text",
    threshold: float = MATCH_THRESHOLD,
) -> DataFrame:
    """J2: broadcast theta-join targets x chunks on score >= threshold.

    ``targets`` must carry a ``tokens`` array column (from ``tokenize`` /
    ``expand_variants``). Returns all matching (target, chunk) pairs with
    their score.
    """
    # Materialize the per-row derived texts BEFORE the cross join so they
    # are computed once per chunk row (inside the aggregate lambda Catalyst
    # would re-evaluate them per token) and never per (chunk, target) pair.
    prepped = chunks.withColumns(match_texts(text_col, "_"))
    joined = prepped.crossJoin(F.broadcast(targets))
    hits = match_hits(F.col(tokens_col), F.col("_upper"), F.col("_wordified"))
    scored = joined.withColumn(
        "score",
        F.when(
            F.size(F.col(tokens_col)) > 0, hits / F.size(F.col(tokens_col))
        ).otherwise(F.lit(0.0)),
    )
    return scored.filter(F.col("score") >= threshold).drop("_upper", "_wordified")
