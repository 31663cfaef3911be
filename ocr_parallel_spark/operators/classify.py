"""Filters, predicates and status classification — all built-in expressions.

Covers SURVEY §2.2: the not-found classifier (P2,
/root/reference/app/services/extractor_service.py:145-157), row filters
(P3), page validation (P4, /root/reference/app/utils/pdf_utils.py:31-42) and
the payload size cap (P5, /root/reference/app/main.py:42-74). Also the
JVM-side mirror of the kernel's normalization chain (F1,
/root/reference/app/utils/text_cleaning.py:6-37) so normalization of
already-textual columns never leaves whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.config import MAX_PAYLOAD_BYTES

NOT_FOUND_MARKERS = ("inmueble no encontrado", "no encontrado", "not found")

# Python re's \s, exactly (Unicode White_Space plus the \x1c-\x1f
# separators Python keeps for history): the kernel's clean_text is the
# normalization ground truth, and NO engine default matches it — Java \s
# and RE2 \s are ASCII-only (NBSP survives), Java (?U)\s drops \x1c-\x1f.
# One explicit class is the only expression all engines agree on; the
# SQL oracles interpolate the same WS_CLASS string. The class holds the
# LITERAL characters (none is a class metacharacter) rather than \x{h}
# escapes: the escaped form's braces would detonate inside the catalog's
# .format()-built SQL templates, and RE2 has no \uhhhh syntax.
WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
    "\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
WS_CLASS = "[" + WS_CHARS + "]"


def normalize_col(col: Column | str) -> Column:
    """F1 chain as built-ins: literal ``\\n`` -> space, newline -> space,
    whitespace runs -> one space, trim. Byte-equal to
    ``kernel.normalize.clean_text`` (asserted in tests) — including on
    Unicode whitespace (NBSP and friends), via WS_CLASS rather than the
    ASCII-only Java ``\\s``."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"\\n", " ")  # literal backslash-n sequence
    c = F.regexp_replace(c, r"\n", " ")
    c = F.regexp_replace(c, WS_CLASS + "+", " ")
    return F.trim(c)


def classify_status(text_col: Column | str) -> Column:
    """P2: empty or an explicit not-found marker => not_found; NULL =>
    error; else found. Mirrors extractor_service.py:145-157 semantics.

    A text is lowercased only when it is short enough to be a marker:
    lowercasing never shortens a string (``İ`` even grows), so a trimmed
    text longer than the longest marker cannot equal one. Whole extracted
    pages are never lowercased."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    trimmed = F.trim(c)
    return (
        F.when(c.isNull(), F.lit("error"))
        .when(trimmed == "", F.lit("not_found"))
        .when(
            (F.char_length(trimmed) <= max(map(len, NOT_FOUND_MARKERS)))
            & F.lower(trimmed).isin(*NOT_FOUND_MARKERS),
            F.lit("not_found"),
        )
        .otherwise(F.lit("found"))
    )


def filter_oversized(
    df: DataFrame, payload_col: str = "html", max_bytes: int = MAX_PAYLOAD_BYTES
) -> DataFrame:
    """P5: drop payloads over the ingestion cap (pushdown-friendly filter;
    dropped rows are counted by the caller via observe/agg). octet_length,
    not length: the cap is BYTES (reference main.py:42-74 checks
    Content-Length) and length() counts characters on a string column —
    a multi-byte UTF-8 payload would under-measure ~3x. Identical on
    binary columns."""
    return df.filter(F.octet_length(F.col(payload_col)) <= max_bytes)

