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
runs inside codegen — no UDF. The matching expressions are SQL text,
applied with one ``selectExpr`` per dependency level: each ``F.*`` call
is a py4j round trip that also records its Python call site, and a chain
built from them cost more on the driver than its small inputs cost to
run. Literal text that reaches the SQL goes through :func:`sql_str`.
"""

from __future__ import annotations

import re

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


_WORD_SPLIT = r"[^\p{L}\p{N}_]+"


def sql_str(s: str) -> str:
    """``s`` as Spark SQL text that holds no quote, backslash or ``$``:
    those three are spelled ``char(n)`` (the rest stays quoted), so neither
    ``escapedStringLiterals`` nor ``${...}`` variable substitution can
    change what the parser reads. Constant folding turns it back into
    one literal."""
    parts = [
        f"char({ord(p)})" if p in ("'", "\\", "$") else f"'{p}'"
        for p in re.split(r"(['\\$])", s)
        if p
    ]
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})" if parts else "''"


def wordify(upper_text: str) -> str:
    """SQL: collapse non-word chars to single spaces and pad — turns
    ``\\b``-bounded matching into plain substring containment. The word
    class is ``\\p{L}\\p{N}_`` (all Unicode letters/digits), matching
    the REFERENCE's Python ``\\b`` (text_localization.py:190), which is
    Unicode: in 'CESIÓN123' there is NO boundary before the digits, so
    token '123' must not hit — an ASCII class would space out the 'Ó'
    and invent one. ``\\p{L}\\p{N}`` parses identically in Java regex
    and RE2, so the SQL oracles replay the same class."""
    return f"concat(' ', regexp_replace({upper_text}, {sql_str(_WORD_SPLIT)}, ' '), ' ')"


def match_texts(text: str, prefix: str) -> dict[str, str]:
    """``match_hits``' per-row inputs as name -> SQL: ``<prefix>upper`` and
    ``<prefix>wordified`` of the column ``text``, to be made as columns
    below a join, shuffle or generator (see :func:`match_hits`)."""
    upper = f"upper({text})"
    return {f"{prefix}upper": upper, f"{prefix}wordified": wordify(upper)}


def match_hits(tokens: str, upper: str, wordified: str) -> str:
    """SQL: F4's hit count. Digit tokens match word-bounded (padded
    containment in the wordified text), word tokens by plain substring:
    ``\\b123\\b`` is ``contains(' 123 ')`` over the text wordified ONCE
    per row, so the per-(row, token) work is substring search, never
    regex compilation. THE single definition of the matching semantics —
    localize, the boundary per-page re-match and the variants query all
    call this so they cannot drift apart. Pass ATTRIBUTES (columns made
    by :func:`match_texts` below a join or generator) for
    ``upper``/``wordified``: an expression referenced inside the
    aggregate lambda re-evaluates per token. ``^[0-9]+$`` is Java's
    ASCII ``\\d``."""
    return (
        f"aggregate({tokens}, 0, (acc, t) -> acc + IF(t RLIKE '^[0-9]+$', "
        f"IF(contains({wordified}, concat(' ', t, ' ')), 1, 0), "
        f"IF(contains({upper}, t), 1, 0)))"
    )


def hit_ratio(tokens: str, hits: str) -> str:
    """SQL: F4's score, the fraction of ``tokens`` hit (0 for none)."""
    return f"IF(size({tokens}) > 0, {hits} / size({tokens}), 0D)"


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
    prepped = chunks.selectExpr(
        "*", *(f"{e} AS {n}" for n, e in match_texts(text_col, "_").items())
    )
    score = hit_ratio(tokens_col, match_hits(tokens_col, "_upper", "_wordified"))
    return (
        prepped.crossJoin(F.broadcast(targets))
        .selectExpr("*", f"{score} AS score")
        .filter(f"score >= {float(threshold)!r}D")
        .drop("_upper", "_wordified")
    )
