"""Char-level boundary refinement inside matched pages (F5-F9 + W6 caps).

Reference semantics (/root/reference/app/utils/text_localization.py):

- F5 ``detect_inmueble_start`` (:325-393): slide a 300-char window with
  stride 50 over the concatenated candidate text; a window qualifies when
  >= 50% of the search tokens appear in it (plain substring — F5 does NOT
  use F4's digit word-boundary rule) AND a start marker is found inside
  it; the winner is the EARLIEST qualifying window with the maximum score
  (the reference replaces only on strictly-greater score), and the start
  position is window offset + the first occurrence of the
  highest-priority marker present. Fallback (:380-391): a 200-char window
  scan at >= 70% token coverage that must also contain the anchor (the
  reference's folio); the first such window's OFFSET is the start.
- F6 ``detect_inmueble_end`` (:396-471): scan at most 3000 chars from the
  start position (MAX_SEARCH_LENGTH); "after"-mode markers end the span
  at ``find_section_end(match.end())``, "before"-mode markers end it at
  ``match.start()``; the earliest wins. If nothing fires and more than
  2000 chars remain, hard-cap at start + 2000; else no end boundary.
- F7 ``find_section_end`` (:474-501): next section heading, else
  paragraph end, else position + 500. Post-F1 the text has single
  spaces and newlines only at the "\\n\\n" page separators; this
  implementation reduces the rule to the literal ".\\n\\n" with match
  end = position + 3, in both engines. DOCUMENTED DIVERGENCE from the
  reference on two edge shapes: (a) a candidate page whose ENTIRE
  normalized body is >= 10 chars of [A-ZÁÉÍÓÚÑ space] (an
  all-uppercase heading/cover page) satisfies the reference's heading
  regex — the separator's own newlines are in its ``\\s`` class — so
  the reference would end the section AT that page break while this
  rule scans past it; (b) an EMPTY candidate page makes a 4-newline
  separator run, where the reference's ``\\.\\s*\\n\\n+`` match end
  consumes the whole run (position + 5) vs + 3 here. Both engines of
  the ``full_process_boundaries`` gate pin THIS rule, so the pair
  stays exact; the reference comparison diverges only on documents
  containing those page shapes.
- F9 ``refine_pages_with_boundaries`` (:540-708): per-page re-match of
  the target (full F4 semantics at threshold 0.6); if no page matches,
  return the first MAX_FALLBACK_PAGES=5 candidates (W6) with no
  boundaries; else detect start/end over the "\\n\\n"-joined candidate
  text, map the char span back to pages by cumulative page offsets
  (page length + 2 for the separator, :606-627), keep the pages between
  start and end capped at MAX_PAGES_WITH_BOUNDARIES=15 (W6); when
  boundary detection fails, reduce >10 matched pages to the densest run
  (gap <= 3, earliest maximal group, :646-680), expand by (2 before, 5
  after) candidate-list INDEX positions (:504-537), and cap at
  MAX_PAGES_WITHOUT_BOUNDARIES=20 via the numeric window
  [min_match - 2, max_match + 12] (:685-706).

Deliberate divergences:
- the reference's ``if start_page and end_page`` (:629) treats page
  number 0 as "not found" (Python truthiness); its page numbers start at
  1 so the bug is latent. Our page ids start at 0, so the check is
  IS NOT NULL.
- candidate page numbers MISSING from the pages table: the reference
  keeps the bare numbers in its fallback and index-expansion lists
  (they count as index positions during expand_page_range), while this
  implementation's pages join drops them — a gap page (OCR-failed)
  shifts expansion windows by one position relative to the reference.
  Both gate engines replay the join-drop rule, so the pair stays
  exact; flagged here rather than silently absorbed.
- ``clean_text_between_pages`` (:715-796) applies the boundary positions
  (computed over the CANDIDATE-pages concat) to offsets recomputed over
  the FINAL pages after header-regex cleaning — a latent frame
  misalignment whenever final != candidate or cleaning removes chars.
  Our ``refined_text`` re-maps the positions into the final-pages frame
  (subtract the start page's candidate offset) so the slice lands where
  detection found it; the header regexes are a no-op post-F1 (the kernel
  strips boilerplate earlier) and the separator stays "\\n\\n" (the
  reference switches to "\\n" in boundaries mode — a formatting nicety
  we normalize away).

Spark-first shape: everything below is column expressions — higher-order
functions over arrays (transform/filter/aggregate), substring arithmetic,
one groupBy per document — ZERO Python on the path. The window scan costs
O(len/stride x window) per (target, document) group, exactly the work the
reference does per document in a Python loop, now one row per group
distributed across executors; group size is bounded by the reference's own
caps and document envelope (30-1500 pages), so no group outgrows an
executor at 100 TB.

Engineering note: every heavy subexpression (window scan, search slice,
offsets array, densest run) is materialized ONCE as an intermediate
column and referenced by attribute afterwards. Building them inline would
duplicate the scan tree dozens of times inside a single projection —
Catalyst analysis/codegen blows up super-linearly in expression size (we
measured minutes of driver-side planning before this restructure).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference constants (text_localization.py:361,365,370,381,386,425,465,
# 501,580,634,646,659,682,685,695). The caps that other modules also
# consume live in config.py — ONE source of truth, so a parity edit
# there cannot silently diverge from this operator's copy.
from ocr_parallel_spark.config import (  # noqa: E402
    MAX_FALLBACK_PAGES,
    MAX_PAGES_WITH_BOUNDARIES,
    MAX_PAGES_WITHOUT_BOUNDARIES,
    MAX_SEARCH_LENGTH,
)
from ocr_parallel_spark.config import DENSE_RANGE_GAP as DENSE_GAP  # noqa: E402

START_WINDOW = 300
START_STRIDE = 50
START_MIN_COVERAGE = (1, 2)  # >= 1/2 of tokens, as an exact ratio
FALLBACK_WINDOW = 200
FALLBACK_MIN_COVERAGE = (7, 10)  # >= 7/10
HARD_END_CAP = 2000
SECTION_FALLBACK_CHARS = 500
DENSE_MIN_MATCHES = 10  # strictly more than this triggers densest-run
EXPAND_BEFORE_IDX = 2
EXPAND_AFTER_IDX = 5
NUMERIC_BEFORE = 2
NUMERIC_AFTER = 12
PAGE_SEP_LEN = 2  # the "\n\n" joiner


def _first_marker_pos(window: Column, markers: list[str]) -> Column:
    """0-based position of the first occurrence of the highest-priority
    marker present in the window; NULL if none (F5 pattern loop with
    break, :372-377). ``nullif(locate, 0)`` evaluates each locate ONCE —
    a when(locate>0, locate-1) form would scan the window twice per
    marker, and HOF lambda bodies get no common-subexpression
    elimination."""
    if not markers:
        return F.lit(None).cast("long")
    return (
        F.coalesce(
            *[
                F.nullif(F.locate(m, window).cast("long"), F.lit(0).cast("long"))
                for m in markers
            ]
        )
        - 1
    )


def _windows(full_upper: Column, window_size: int) -> Column:
    """Array of (i, w) sliding-window structs with Python
    ``range(0, len - window, stride)`` semantics, built in ONE regex pass.

    Spark's ``UTF8String.substring`` resolves a CHAR offset by walking the
    UTF-8 bytes from position 0 (no ASCII fast path), so slicing each
    window out of the text costs a walk per window. Here each match
    consumes one stride and captures the next ``window_size`` chars by
    lookahead; the extra ``.`` after the capture needs one more char, so
    the last window starts strictly before ``len - window`` (empty when
    len <= window). Java's ``.`` under ``(?s)`` matches one whole code
    point, line terminators included, so offsets stay in Spark's char
    units."""
    wins = F.regexp_extract_all(
        full_upper,
        F.lit(f"(?s)(?=(.{{{window_size}}}).).{{{START_STRIDE}}}"),
        1,
    )
    return F.transform(
        wins,
        lambda w, k: F.struct(
            (k.cast("long") * START_STRIDE).alias("i"), w.alias("w")
        ),
    )


def _densest_run(matching: Column) -> Column:
    """A8 inside F9 (:646-680): (lo, hi) of the densest run of a sorted
    page array (gaps <= 3); ties keep the EARLIEST maximal group (the
    reference replaces only on strictly-greater count). Array aggregate."""
    init = F.struct(
        F.lit(None).cast("long").alias("bs"),
        F.lit(None).cast("long").alias("be"),
        F.lit(0).cast("long").alias("bc"),
        F.lit(None).cast("long").alias("cs"),
        F.lit(0).cast("long").alias("cc"),
        F.lit(None).cast("long").alias("prev"),
    )

    def merge(acc, p):
        new_group = acc["prev"].isNull() | (p - acc["prev"] > DENSE_GAP)
        better = acc["cc"] > acc["bc"]
        return F.struct(
            F.when(new_group & better, acc["cs"]).otherwise(acc["bs"]).alias("bs"),
            F.when(new_group & better, acc["prev"]).otherwise(acc["be"]).alias("be"),
            F.when(new_group & better, acc["cc"]).otherwise(acc["bc"]).alias("bc"),
            F.when(new_group, p).otherwise(acc["cs"]).alias("cs"),
            F.when(new_group, F.lit(1).cast("long"))
            .otherwise(acc["cc"] + 1)
            .alias("cc"),
            p.alias("prev"),
        )

    def finish(acc):
        better = acc["cc"] > acc["bc"]
        return F.struct(
            F.when(better, acc["cs"]).otherwise(acc["bs"]).alias("lo"),
            F.when(better, acc["prev"]).otherwise(acc["be"]).alias("hi"),
        )

    return F.aggregate(matching, init, merge, finish)


def refine_pages_with_boundaries(
    candidates: DataFrame,
    pages: DataFrame,
    targets: DataFrame,
    start_markers: list[str],
    end_after_markers: list[str],
    end_before_markers: list[str],
    threshold_ratio: tuple[int, int] = (3, 5),  # F4 match >= 3/5 (= 0.6)
    page_join_cols: list[str] | None = None,
) -> DataFrame:
    """F9 end-to-end over (target_id, source, doc_id) candidate pages.

    ``candidates``: (target_id, source, doc_id) — the W2 chunk->pages
    expansion. PRECONDITION: (target_id, source, doc_id) rows must be
    UNIQUE — the reference dedups via sorted(set(candidate_pages))
    (full_extractor_service.py:253); a duplicate pair here would repeat
    that page in the concatenated scan text and corrupt every offset.
    Callers ``.distinct()`` first (a distinct is NOT applied internally:
    both in-repo callers already pay that shuffle and doubling it would
    be pure cost at scale). ``pages``: (doc_id[, source], norm). ``targets``:
    (target_id, tokens array<string>, anchor string) — anchor is the
    folio analog. Pass ``page_join_cols=["doc_id", "source"]`` when page
    ids are only unique within a source (the reference's candidate pages
    always live inside ONE document, full_extractor_service.py:253-277 —
    joining on the bare id would pull other documents' pages into the
    scan text and inflate it unboundedly).

    Returns one row per (target_id, source): method, pages_csv, n_pages,
    start_char, end_char. One broadcast join + one keyed shuffle.
    """
    from ocr_parallel_spark.operators.localization import match_hits, wordify

    j = candidates.join(pages, page_join_cols or ["doc_id"]).join(
        F.broadcast(targets), "target_id"
    )

    # Per-page re-match: FULL F4 semantics via the single shared
    # match_hits definition, exact integer threshold comparison. The
    # derived texts are materialized as columns first — referenced inside
    # the aggregate lambda they would re-evaluate per token.
    j = j.withColumn("_pg_upper", F.upper(F.col("norm"))).withColumn(
        "_pg_wordified", wordify(F.col("_pg_upper"))
    )
    hits = match_hits(
        F.col("tokens"), F.col("_pg_upper"), F.col("_pg_wordified")
    )
    tnum, tden = threshold_ratio
    j = j.withColumn(
        "matched",
        (F.size(F.col("tokens")) > 0)
        & (hits * tden >= F.size(F.col("tokens")) * tnum),
    )

    # The heavy per-group values (sorted pages, page ids, the uppercased
    # "\n\n"-joined text, cumulative offsets) are produced as AGGREGATE
    # RESULT EXPRESSIONS, not as downstream projections: an Aggregate
    # output is an attribute, which later lambda bodies can only READ.
    # Built as withColumn projections instead, Catalyst may inline the
    # defining expression into a higher-order-function lambda, where it is
    # re-evaluated PER ARRAY ELEMENT — the 17 KB concat+upper rebuilt for
    # every one of ~700 scan windows turned this operator quadratic
    # (measured: 2.3 s/group before, ~ms after).
    sorted_pages = F.array_sort(F.collect_list(F.struct("doc_id", "norm")))
    g = j.groupBy("target_id", "source").agg(
        sorted_pages.alias("pages"),
        F.transform(sorted_pages, lambda s: s["doc_id"]).alias("_page_ids"),
        F.upper(
            F.concat_ws("\n\n", F.transform(sorted_pages, lambda s: s["norm"]))
        ).alias("_upper"),
        # page k spans [offsets[k], offsets[k] + len + 2) (:606-627)
        F.aggregate(
            F.transform(sorted_pages, lambda s: F.length(s["norm"]).cast("long")),
            F.array(F.lit(0).cast("long")),
            lambda acc, l: F.array_append(
                acc, F.element_at(acc, -1) + l + PAGE_SEP_LEN
            ),
        ).alias("_offsets"),
        F.array_sort(
            F.collect_list(F.when(F.col("matched"), F.col("doc_id")))
        ).alias("matching"),
        F.first("tokens").alias("tokens"),
        F.first("anchor").alias("anchor"),
    )

    c = F.col
    t_count = F.size(c("tokens"))

    # --- stage 1: window scans over the aggregate-produced text, one
    # regex pass per window size (see _windows).
    g = g.withColumn("_wins", _windows(c("_upper"), START_WINDOW)).withColumn(
        "_fwins", _windows(c("_upper"), FALLBACK_WINDOW)
    )

    # --- stage 2: F5 main scan — earliest qualifying window w/ max hits.
    num, den = START_MIN_COVERAGE
    scored = F.transform(
        c("_wins"),
        lambda s: F.struct(
            s["i"].alias("i"),
            F.size(F.filter(c("tokens"), lambda t: s["w"].contains(t))).alias(
                "hits"
            ),
            _first_marker_pos(s["w"], start_markers).alias("mpos"),
        ),
    )
    g = g.withColumn(
        "_qual",
        F.filter(
            scored,
            lambda s: (s["hits"] * den >= t_count * num)
            & (s["hits"] > 0)
            & s["mpos"].isNotNull(),
        ),
    )
    g = g.withColumn(
        "_max_hits", F.array_max(F.transform(c("_qual"), lambda s: s["hits"]))
    )
    g = g.withColumn(
        "_best",
        F.get(F.filter(c("_qual"), lambda s: s["hits"] == c("_max_hits")), 0),
    )

    # F5 fallback: first >= 7/10-coverage window containing the anchor;
    # the window OFFSET is the start (:390).
    fnum, fden = FALLBACK_MIN_COVERAGE
    g = g.withColumn(
        "_fb",
        F.get(
            F.filter(
                c("_fwins"),
                lambda s: (
                    F.size(F.filter(c("tokens"), lambda t: s["w"].contains(t)))
                    * fden
                    >= t_count * fnum
                )
                & (t_count > 0)
                & s["w"].contains(c("anchor")),
            ),
            0,
        ),
    )
    # fallback_first5 short-circuits BEFORE boundary detection (:578-586)
    g = g.withColumn(
        "start_char",
        F.when(
            F.size(c("matching")) > 0,
            F.coalesce(c("_best")["i"] + c("_best")["mpos"], c("_fb")["i"]),
        ),
    )

    # --- stage 3: F6 end scan over at most 3000 chars from the start.
    g = g.withColumn(
        "_stext",
        F.when(
            c("start_char").isNotNull(),
            F.substring(
                c("_upper"), (c("start_char") + 1).cast("int"), MAX_SEARCH_LENGTH
            ),
        ),
    ).withColumn("_slen", F.length(c("_stext")).cast("long"))
    cands = []
    for m in end_after_markers:
        fm = F.locate(m, c("_stext"))  # 1-based, 0 if absent
        pos = fm - 1 + len(m)  # 0-based match end
        rel = F.locate(
            ".\n\n",
            F.substring(c("_stext"), (pos + 1).cast("int"), MAX_SEARCH_LENGTH),
        )
        section_end = F.when(rel > 0, pos + rel - 1 + 3).otherwise(
            F.least(pos + SECTION_FALLBACK_CHARS, c("_slen"))
        )
        cands.append(F.when(fm > 0, section_end))
    for m in end_before_markers:
        fm = F.locate(m, c("_stext"))
        cands.append(F.when(fm > 0, (fm - 1).cast("long")))
    # Empty-marker guard (mirrors _first_marker_pos): with no end markers
    # at all the scan finds nothing and only the 2000-char hard cap below
    # can set end_char — without this, cands[0] raised IndexError at
    # plan-build time with an opaque traceback.
    if not cands:
        earliest = F.lit(None).cast("long")
    else:
        earliest = F.least(*cands) if len(cands) > 1 else cands[0]
    g = g.withColumn("_earliest", earliest)
    g = g.withColumn(
        "end_char",
        F.when(
            c("_earliest").isNotNull() & (c("_earliest") < c("_slen")),
            c("start_char") + c("_earliest"),
        ).when(c("_slen") > HARD_END_CAP, c("start_char") + HARD_END_CAP),
    )

    # --- stage 4: char span -> page span via the aggregate-produced
    # cumulative offsets.
    idxs = F.sequence(F.lit(1), F.size(c("pages")))

    def page_containing(pos: Column) -> Column:
        k = F.get(
            F.filter(
                idxs,
                lambda k: (pos >= F.element_at(c("_offsets"), k))
                & (pos < F.element_at(c("_offsets"), (k + 1).cast("int"))),
            ),
            0,
        )
        return F.element_at(c("_page_ids"), k.cast("int"))

    g = g.withColumn(
        "_start_page",
        F.when(c("start_char").isNotNull(), page_containing(c("start_char"))),
    ).withColumn(
        "_end_page",
        F.when(c("end_char").isNotNull(), page_containing(c("end_char"))),
    )

    # --- stage 5: the three result paths + W6 caps.
    g = (
        g.withColumn("_dense", _densest_run(c("matching")))
        .withColumn(
            "_meff",
            F.when(
                F.size(c("matching")) > DENSE_MIN_MATCHES,
                F.filter(
                    c("matching"),
                    lambda p: (p >= c("_dense")["lo"]) & (p <= c("_dense")["hi"]),
                ),
            ).otherwise(c("matching")),
        )
        .withColumn("_mn", F.array_min(c("_meff")))
        .withColumn("_mx", F.array_max(c("_meff")))
        .withColumn("_imin", F.array_position(c("_page_ids"), c("_mn")))
        .withColumn("_imax", F.array_position(c("_page_ids"), c("_mx")))
    )
    start_idx0 = F.greatest(c("_imin") - 1 - EXPAND_BEFORE_IDX, F.lit(0))
    end_idx0 = F.least(
        F.size(c("_page_ids")).cast("long"), c("_imax") - 1 + EXPAND_AFTER_IDX + 1
    )
    g = g.withColumn(
        "_expanded",
        F.slice(
            c("_page_ids"),
            (start_idx0 + 1).cast("int"),
            F.greatest(end_idx0 - start_idx0, F.lit(0)).cast("int"),
        ),
    )
    numeric_limited = F.slice(
        F.filter(
            c("_page_ids"),
            lambda p: (p >= c("_mn") - NUMERIC_BEFORE)
            & (p <= c("_mx") + NUMERIC_AFTER),
        ),
        1,
        MAX_PAGES_WITHOUT_BOUNDARIES,
    )
    bounded_pages = F.slice(
        F.filter(
            c("_page_ids"),
            lambda p: (p >= c("_start_page")) & (p <= c("_end_page")),
        ),
        1,
        MAX_PAGES_WITH_BOUNDARIES,
    )

    no_match = F.size(c("matching")) == 0
    has_bounds = (
        c("start_char").isNotNull()
        & c("end_char").isNotNull()
        & c("_start_page").isNotNull()
        & c("_end_page").isNotNull()
    )
    method = (
        F.when(no_match, F.lit("fallback_first5"))
        .when(has_bounds, F.lit("boundaries"))
        .otherwise(F.lit("expanded"))
    )
    final_pages = (
        F.when(no_match, F.slice(c("_page_ids"), 1, MAX_FALLBACK_PAGES))
        .when(has_bounds, bounded_pages)
        .otherwise(
            F.when(
                F.size(c("_expanded")) > MAX_PAGES_WITHOUT_BOUNDARIES,
                numeric_limited,
            ).otherwise(c("_expanded"))
        )
    )
    g = g.withColumn("_final_pages", final_pages)

    # Refined text (W3-with-boundaries, :715-796 sane-frame form): concat
    # the FINAL pages, and when boundaries were detected slice at the
    # positions re-mapped into the final-pages frame (start_page opens
    # that frame, so subtract its candidate offset).
    g = g.withColumn(
        "_final_concat",
        F.concat_ws(
            "\n\n",
            F.transform(
                F.filter(
                    c("pages"),
                    lambda s: F.array_contains(c("_final_pages"), s["doc_id"]),
                ),
                lambda s: s["norm"],
            ),
        ),
    )
    start_page_off = F.element_at(
        c("_offsets"),
        F.array_position(c("_page_ids"), c("_start_page")).cast("int"),
    )
    g = g.withColumn(
        "refined_text",
        F.when(
            has_bounds,
            F.substring(
                c("_final_concat"),
                (c("start_char") - start_page_off + 1).cast("int"),
                (c("end_char") - c("start_char")).cast("int"),
            ),
        ).otherwise(c("_final_concat")),
    )

    return g.select(
        "target_id",
        "source",
        method.alias("method"),
        F.array_join(
            F.transform(c("_final_pages"), lambda p: p.cast("string")), ","
        ).alias("pages_csv"),
        F.size(c("_final_pages")).cast("long").alias("n_pages"),
        # fallback_first5 returns before boundary detection (:578-586)
        F.when(~no_match, c("start_char")).alias("start_char"),
        F.when(~no_match, c("end_char")).alias("end_char"),
        "refined_text",
    )
