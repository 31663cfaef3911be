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
  (they count as index positions during expand_page_range), while here
  every candidate is an existing page — a gap page (OCR-failed) shifts
  expansion windows by one position relative to the reference. Both
  gate engines replay the drop rule, so the pair stays exact; flagged
  here rather than silently absorbed.
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

Spark-first shape: SQL text from end to end, one ``selectExpr`` (or one
``agg``) per dependency level, with higher-order functions over arrays
(transform/filter/aggregate) — ZERO Python on the path. Stage 0 (the
per-page re-match) reads page texts made below a join or in the chunk
members, never rebuilt per token inside ``match_hits``' lambda;
``full_process`` computes it before refinement, while each (chunk,
target) row still holds its members, so its candidates need no second
targets join. The scans are guarded so a group does no more work than
the reference's per-document Python loop: the 300-char scan runs only
when some page matched, token coverage is counted only for windows that
hold a start marker, each marker is ``locate``d only in a window that
``contains`` it, and the 200-char fallback regex and its scan run only
under ``CASE WHEN`` the main scan found nothing. Group size is bounded
by the reference's own caps and document envelope (30-1500 pages), so no
group outgrows an executor at 100 TB.

Engineering notes: every heavy value (window scan result, search slice,
densest run, page-span bounds) is a column of its own level, read by
attribute afterwards — inlined, the tree would be duplicated inside one
projection, and a value referenced from a lambda body would be re-built
per array element (lambda bodies get no common-subexpression
elimination). Building the levels as SQL text costs one py4j call per
level instead of one per ``F.*`` call, each of which records its Python
call site. Each marker list is one ``array<string>`` literal spelled by
``localization.sql_str``: quotes, backslashes and ``$`` become
``char(n)``, so parser confs such as ``escapedStringLiterals`` and
variable substitution cannot change a match; the SQL text itself holds
no backslash escapes (newlines are ``char(10)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.operators.localization import match_hits, match_texts, sql_str

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
NL2 = "repeat(char(10), 2)"  # the joiner in SQL text, spelled without escapes


def _windows(text: str, window_size: int) -> str:
    """SQL: the ``window_size``-char sliding windows of ``text`` with
    Python ``range(0, len - window, stride)`` semantics, built in ONE regex
    pass; window k starts at char ``k * START_STRIDE``.

    Spark's ``UTF8String.substring`` resolves a CHAR offset by walking the
    UTF-8 bytes from position 0 (no ASCII fast path), so slicing each
    window out of the text costs a walk per window. Here each match
    consumes one stride and captures the next ``window_size`` chars by
    lookahead; the extra ``.`` after the capture needs one more char, so
    the last window starts strictly before ``len - window`` (empty when
    len <= window). Java's ``.`` under ``(?s)`` matches one whole code
    point, line terminators included, so offsets stay in Spark's char
    units."""
    return (
        f"regexp_extract_all({text}, "
        f"'(?s)(?=(.{{{window_size}}}).).{{{START_STRIDE}}}', 1)"
    )


def _first_marker_pos(window: str, markers: str) -> str:
    """SQL: 0-based position of the first occurrence of the highest-priority
    marker present in ``window``, -1 if none (F5 pattern loop with break,
    :372-377). ``markers`` is array<string> SQL; once a marker is found
    the fold tests no further marker.

    ``contains`` guards ``locate``: Spark's ``UTF8String.indexOf`` compares
    the whole marker at every char offset, while ``contains`` first scans
    for the marker's first byte, and nearly every window holds no marker.
    Both answer the same, so the result does not change."""
    return (
        f"aggregate({markers}, -1, (p, m) -> "
        f"IF(p < 0 AND contains({window}, m), locate(m, {window}) - 1, p))"
    )


def _markers(markers: list[str]) -> str:
    """SQL: one array<string> literal of ``markers``, spelled by
    ``sql_str`` so quotes, backslashes or ``${`` in a marker stay data."""
    return f"CAST(array({', '.join(map(sql_str, markers))}) AS array<string>)"


def page_matched(
    tokens: str, upper: str, wordified: str, threshold_ratio: tuple[int, int] = (3, 5)
) -> str:
    """SQL: F9's per-page re-match (stage 0) — full F4 semantics via the
    single shared ``match_hits`` definition, compared with the threshold
    as an exact integer ratio."""
    num, den = threshold_ratio
    return (
        f"size({tokens}) > 0 AND "
        f"{match_hits(tokens, upper, wordified)} * {den} >= size({tokens}) * {num}"
    )


def _densest_run(matching: str) -> str:
    """SQL: A8 inside F9 (:646-680): (lo, hi) of the densest run of a
    sorted page array (gaps <= 3); ties keep the EARLIEST maximal group (the
    reference replaces only on strictly-greater count). Array aggregate
    over (best start/end/count, current start/count, previous page); the
    first page (no previous) opens a group."""
    nul = "CAST(NULL AS BIGINT)"

    def state(bs, be, bc, cs, cc):
        return (
            f"named_struct('bs', {bs}, 'be', {be}, 'bc', {bc}, "
            f"'cs', {cs}, 'cc', {cc}, 'prev', CAST(p AS BIGINT))"
        )

    return f"""aggregate({matching},
        named_struct('bs', {nul}, 'be', {nul}, 'bc', 0L,
                     'cs', {nul}, 'cc', 0L, 'prev', {nul}),
        (a, p) -> CASE
          WHEN p - a.prev <= {DENSE_GAP}
            THEN {state('a.bs', 'a.be', 'a.bc', 'a.cs', 'a.cc + 1')}
          WHEN a.cc > a.bc
            THEN {state('a.cs', 'a.prev', 'a.cc', 'CAST(p AS BIGINT)', '1L')}
          ELSE {state('a.bs', 'a.be', 'a.bc', 'CAST(p AS BIGINT)', '1L')} END,
        a -> IF(a.cc > a.bc, named_struct('lo', a.cs, 'hi', a.prev),
                named_struct('lo', a.bs, 'hi', a.be)))"""


def refine_pages_with_boundaries(
    candidates: DataFrame,
    pages: DataFrame | None,
    targets: DataFrame,
    start_markers: list[str],
    end_after_markers: list[str],
    end_before_markers: list[str],
    threshold_ratio: tuple[int, int] = (3, 5),  # F4 match >= 3/5 (= 0.6)
    page_join_cols: list[str] | None = None,
) -> DataFrame:
    """F9 end-to-end over (target_id, source, doc_id) candidate pages.

    ``candidates``: (target_id, source, doc_id) — the W2 chunk->pages
    expansion; a repeated row counts once (the reference's
    sorted(set(candidate_pages)), full_extractor_service.py:253: the
    aggregate collects sets). PRECONDITION: doc_id is unique within a
    source. ``pages``: (doc_id[, source], norm), joined to the candidates;
    or None when the candidates already carry ``norm`` and its
    ``match_texts("norm", "_pg_")``. ``targets``: (target_id, tokens
    array<string>, anchor string) — anchor is the folio analog — joined
    to the candidates for the per-page re-match; or None when the
    candidates already carry ``tokens``, ``anchor`` and ``matched``
    (:func:`page_matched`), as ``full_process`` makes them. Pass
    ``page_join_cols=["doc_id", "source"]`` when page ids are only unique
    within a source (the reference's candidate pages always live inside
    ONE document, full_extractor_service.py:253-277 — joining on the bare
    id would pull other documents' pages into the scan text).

    Returns one row per (target_id, source): method, pages_csv, n_pages,
    start_char, end_char, refined_text. At most one broadcast join of the
    targets and one aggregate by (target_id, source).
    """
    if pages is not None:
        texts = match_texts("norm", "_pg_")
        pages = pages.selectExpr("*", *(f"{e} AS {n}" for n, e in texts.items()))
        candidates = candidates.join(pages, page_join_cols or ["doc_id"])
    if targets is not None:
        matched = page_matched("tokens", "_pg_upper", "_pg_wordified", threshold_ratio)
        candidates = candidates.join(F.broadcast(targets), "target_id").selectExpr(
            "*", f"{matched} AS matched"
        )

    # The heavy per-group values (sorted pages, page ids, the uppercased
    # "\n\n"-joined text, cumulative offsets) are produced as AGGREGATE
    # RESULT EXPRESSIONS, not as downstream projections: an Aggregate
    # output is an attribute, which later lambda bodies can only READ.
    # Built as projections instead, Catalyst may inline the defining
    # expression into a higher-order-function lambda, where it is
    # re-evaluated PER ARRAY ELEMENT — the 17 KB concat+upper rebuilt for
    # every one of ~700 scan windows turned this operator quadratic
    # (measured: 2.3 s/group before, ~ms after).
    sorted_pages = "array_sort(collect_set(struct(doc_id, norm)))"
    g = candidates.groupBy("target_id", "source").agg(*(F.expr(e) for e in (
        f"{sorted_pages} AS pages",
        f"transform({sorted_pages}, s -> s.doc_id) AS _page_ids",
        f"upper(concat_ws({NL2}, transform({sorted_pages}, s -> s.norm))) AS _upper",
        # page k spans [offsets[k], offsets[k] + len + 2) (:606-627)
        f"""aggregate(transform({sorted_pages}, s -> CAST(length(s.norm) AS BIGINT)),
              array(0L), (acc, l) -> array_append(acc, element_at(acc, -1) + l + {PAGE_SEP_LEN}))
              AS _offsets""",
        "array_sort(collect_set(IF(matched, doc_id, NULL))) AS matching",
        "first(tokens) AS tokens",
        "first(anchor) AS anchor",
    )))
    sm, eam, ebm = map(_markers, (start_markers, end_after_markers, end_before_markers))

    num, den = START_MIN_COVERAGE
    fnum, fden = FALLBACK_MIN_COVERAGE
    levels = [
        # F5 main scan, only where some page matched: windows holding a
        # start marker are scored; of those with >= 1/2 coverage the
        # earliest with the most hits wins — the max of (hits, -offset).
        # The densest run (stage 5) is needed only past 10 matched pages.
        (
            f"""CASE WHEN size(matching) > 0 THEN array_max(filter(transform(
                  filter(transform({_windows("_upper", START_WINDOW)},
                    (w, k) -> named_struct('w', w, 'i', k * {START_STRIDE},
                                           'mpos', {_first_marker_pos("w", sm)})),
                    s -> s.mpos >= 0),
                  s -> named_struct('hits', size(filter(tokens, t -> contains(s.w, t))),
                                    'ni', -s.i, 'mpos', s.mpos)),
                s -> s.hits > 0 AND s.hits * {den} >= size(tokens) * {num}))
                END AS _best""",
            f"""CASE WHEN size(matching) > {DENSE_MIN_MATCHES}
                THEN {_densest_run("matching")} END AS _dense""",
        ),
        # F5 fallback, only when the main scan found nothing: the first
        # >= 7/10-coverage 200-char window containing the anchor; its
        # OFFSET is the start (:380-391).
        (
            f"""CASE WHEN size(matching) > 0 AND _best IS NULL THEN get(filter(
                  transform({_windows("_upper", FALLBACK_WINDOW)}, (w, k) -> IF(
                    contains(w, anchor) AND size(tokens) > 0 AND size(filter(
                      tokens, t -> contains(w, t))) * {fden} >= size(tokens) * {fnum},
                    k * {START_STRIDE}, NULL)),
                  i -> i IS NOT NULL), 0) END AS _fb""",
            f"""IF(size(matching) > {DENSE_MIN_MATCHES},
                filter(matching, p -> p BETWEEN _dense.lo AND _dense.hi),
                matching) AS _meff""",
        ),
        # NULL without a matching page: fallback_first5 short-circuits
        # BEFORE boundary detection (:578-586)
        (
            "CAST(coalesce(_best.mpos - _best.ni, _fb) AS BIGINT) AS start_char",
            "array_min(_meff) AS _mn",
            "array_max(_meff) AS _mx",
        ),
        # F6 end scan over at most 3000 chars from the start; the
        # expanded path's candidate-index window (:504-537)
        (
            f"""CASE WHEN start_char IS NOT NULL
                THEN substring(_upper, CAST(start_char + 1 AS INT), {MAX_SEARCH_LENGTH})
                END AS _stext""",
            f"""CAST(greatest(array_position(_page_ids, _mn) - 1 - {EXPAND_BEFORE_IDX},
                0) AS INT) AS _xlo""",
            f"""CAST(least(size(_page_ids),
                array_position(_page_ids, _mx) + {EXPAND_AFTER_IDX}) AS INT) AS _xhi""",
        ),
        (
            "length(_stext) AS _slen",
            "slice(_page_ids, _xlo + 1, greatest(_xhi - _xlo, 0)) AS _expanded",
        ),
        # "after" markers end at F7 find_section_end(match end): the next
        # ".\n\n" + 3, else + 500; "before" markers at the match start. No
        # marker at all leaves only the hard cap below.
        (
            f"""array_min(concat(
                  transform(
                    transform({eam}, m -> nullif(locate(m, _stext), 0) + length(m) - 1),
                    e -> IF(e IS NULL, NULL, coalesce(
                      nullif(locate(concat('.', {NL2}), _stext, e + 1), 0) + 2,
                      least(e + {SECTION_FALLBACK_CHARS}, _slen)))),
                  transform({ebm}, m -> nullif(locate(m, _stext), 0) - 1)))
                AS _earliest""",
        ),
        (
            f"""CASE WHEN _earliest < _slen THEN start_char + _earliest
                WHEN _slen > {HARD_END_CAP} THEN start_char + {HARD_END_CAP}
                END AS end_char""",
        ),
        # stage 4: 1-based index of the page holding a char position —
        # the count of cumulative offsets at or before it (:606-627)
        (
            """CASE WHEN start_char IS NOT NULL
                THEN size(filter(_offsets, o -> o <= start_char)) END AS _sk""",
            """CASE WHEN end_char IS NOT NULL
                THEN size(filter(_offsets, o -> o <= end_char)) END AS _ek""",
        ),
        # stage 5: the three result paths + W6 caps. An end implies a
        # start, so _ek IS NOT NULL means boundaries were detected; the
        # bounded pages are the sorted ids from the start to the end page.
        (
            """CASE WHEN size(matching) = 0 THEN 'fallback_first5'
                WHEN _ek IS NOT NULL THEN 'boundaries' ELSE 'expanded' END AS method""",
            f"""CASE
                WHEN size(matching) = 0 THEN slice(_page_ids, 1, {MAX_FALLBACK_PAGES})
                WHEN _ek IS NOT NULL THEN slice(_page_ids, _sk,
                  least(_ek - _sk + 1, {MAX_PAGES_WITH_BOUNDARIES}))
                WHEN size(_expanded) > {MAX_PAGES_WITHOUT_BOUNDARIES} THEN slice(
                  filter(_page_ids, p -> p BETWEEN _mn - {NUMERIC_BEFORE}
                                           AND _mx + {NUMERIC_AFTER}),
                  1, {MAX_PAGES_WITHOUT_BOUNDARIES})
                ELSE _expanded END AS _final_pages""",
        ),
    ]
    for level in levels:
        g = g.selectExpr("*", *level)

    # Refined text (W3-with-boundaries, :715-796 sane-frame form): concat
    # the FINAL pages, and when boundaries were detected slice at the
    # positions re-mapped into the final-pages frame (the start page opens
    # that frame, so subtract its candidate offset).
    final_concat = (
        f"concat_ws({NL2}, transform(filter(pages, "
        "s -> array_contains(_final_pages, s.doc_id)), s -> s.norm))"
    )
    return g.selectExpr(
        "target_id",
        "source",
        "method",
        "array_join(transform(_final_pages, p -> CAST(p AS STRING)), ',') AS pages_csv",
        "CAST(size(_final_pages) AS BIGINT) AS n_pages",
        "start_char",
        "end_char",
        f"""CASE WHEN _ek IS NOT NULL THEN substring({final_concat},
              CAST(start_char - element_at(_offsets, _sk) + 1 AS INT),
              CAST(end_char - start_char AS INT))
             ELSE {final_concat} END AS refined_text""",
    )
