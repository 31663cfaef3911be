"""Boundary refinement (F5-F9 + W6 caps 5/15/20) — operator tests.

``_mirror_refine`` is an independent plain-Python implementation of the
documented algorithm (written from the spec in operators/boundaries.py,
NOT from the reference code); the Spark expression implementation must
agree with it on crafted branch-targeted cases AND on seeded random
inputs. This pins every branch: boundaries detected, start fallback scan,
section-end paragraph mark, hard 2000-char cap, densest-run reduction,
index-based expansion, numeric cap, and the three W6 caps.
"""

from __future__ import annotations

import random

import pytest

from ocr_parallel_spark.operators import boundaries as B

START_MARKERS = ["QQSTART ALPHA", "QQALT"]
AFTER_MARKERS = ["QQEND BETA", "QQEND GAMMA"]
BEFORE_MARKERS = ["QQNEXT ITEM"]
MARKERS = (START_MARKERS, AFTER_MARKERS, BEFORE_MARKERS)
# Quote, backslash, LIKE wildcard, regex metacharacters and a newline: the
# operator must match markers as plain substrings whatever they hold.
SPECIAL_MARKERS = (
    ["QQ'S\\TART%(", "QQ.ALT\nX"],
    ["QQ'END\\.%", "QQ(END)\nB"],
    ["QQ\\NEXT('%'"],
)


# ------------------------------------------------------------------ mirror --
def _match_page(tokens: list[str], text: str) -> bool:
    up = text.upper()
    padded = " " + "".join(ch if (ch.isalnum() or ch == "_") else " " for ch in up)
    padded = " ".join(padded.split())
    padded = f" {padded} "
    hits = 0
    for t in tokens:
        if t.isdigit():
            hits += int(f" {t} " in padded)
        else:
            hits += int(t in up)
    return len(tokens) > 0 and 5 * hits >= 3 * len(tokens)


def _detect_start(
    U: str, tokens: list[str], anchor: str, start_markers: list[str]
) -> int | None:
    best_pos, best_hits = None, 0
    for i in range(0, len(U) - B.START_WINDOW, B.START_STRIDE):
        w = U[i : i + B.START_WINDOW]
        hits = sum(1 for t in tokens if t in w)
        if hits > best_hits and 2 * hits >= len(tokens) and hits > 0:
            for m in start_markers:
                p = w.find(m)
                if p >= 0:
                    best_pos, best_hits = i + p, hits
                    break
    if best_pos is not None:
        return best_pos
    for i in range(0, len(U) - B.FALLBACK_WINDOW, B.START_STRIDE):
        w = U[i : i + B.FALLBACK_WINDOW]
        hits = sum(1 for t in tokens if t in w)
        if tokens and 10 * hits >= 7 * len(tokens) and anchor in w:
            return i
    return None


def _section_end(stext: str, pos: int) -> int:
    rel = stext.find(".\n\n", pos)
    if rel >= 0:
        return rel + 3
    return min(pos + B.SECTION_FALLBACK_CHARS, len(stext))


def _detect_end(
    U: str, start: int, after: list[str], before: list[str]
) -> int | None:
    stext = U[start : start + B.MAX_SEARCH_LENGTH]
    cands = []
    for m in after:
        fm = stext.find(m)
        if fm >= 0:
            cands.append(_section_end(stext, fm + len(m)))
    for m in before:
        fm = stext.find(m)
        if fm >= 0:
            cands.append(fm)
    earliest = min(cands) if cands else None
    if earliest is not None and earliest < len(stext):
        return start + earliest
    if len(stext) > B.HARD_END_CAP:
        return start + B.HARD_END_CAP
    return None


def _densest(matching: list[int]) -> list[int]:
    if len(matching) <= B.DENSE_MIN_MATCHES:
        return matching
    bs = be = matching[0]
    bc = 1
    cs, cc = matching[0], 1
    for prev, p in zip(matching, matching[1:]):
        if p - prev > B.DENSE_GAP:
            if cc > bc:
                bs, be, bc = cs, prev, cc
            cs, cc = p, 1
        else:
            cc += 1
    if cc > bc:
        bs, be = cs, matching[-1]
    return [p for p in matching if bs <= p <= be]


def _concat(page_texts: dict[int, str], pages: list[int]) -> str:
    return "\n\n".join(page_texts[p] for p in pages)


def _mirror_refine(
    page_texts: dict[int, str], tokens: list[str], anchor: str, markers=MARKERS
):
    start_markers, after, before = markers
    page_ids = sorted(page_texts)
    matching = [p for p in page_ids if _match_page(tokens, page_texts[p])]
    if not matching:
        final = page_ids[: B.MAX_FALLBACK_PAGES]
        return ("fallback_first5", final, None, None, _concat(page_texts, final))
    full = "\n\n".join(page_texts[p] for p in page_ids)
    U = full.upper()
    start = _detect_start(U, tokens, anchor, start_markers)
    end = _detect_end(U, start, after, before) if start is not None else None
    start_page = end_page = None
    off = 0
    offsets = {}
    for p in page_ids:
        offsets[p] = off
        lo, hi = off, off + len(page_texts[p]) + 2
        if start is not None and start_page is None and lo <= start < hi:
            start_page = p
        if end is not None and end_page is None and lo <= end < hi:
            end_page = p
        off = hi
    if (
        start is not None
        and end is not None
        and start_page is not None
        and end_page is not None
    ):
        final = [p for p in page_ids if start_page <= p <= end_page]
        final = final[: B.MAX_PAGES_WITH_BOUNDARIES]
        rel = start - offsets[start_page]
        text = _concat(page_texts, final)[rel : rel + (end - start)]
        return ("boundaries", final, start, end, text)
    meff = _densest(matching)
    mn, mx = min(meff), max(meff)
    i_min, i_max = page_ids.index(mn), page_ids.index(mx)
    expanded = page_ids[
        max(0, i_min - B.EXPAND_BEFORE_IDX) : min(
            len(page_ids), i_max + B.EXPAND_AFTER_IDX + 1
        )
    ]
    if len(expanded) > B.MAX_PAGES_WITHOUT_BOUNDARIES:
        limited = [
            p
            for p in page_ids
            if mn - B.NUMERIC_BEFORE <= p <= mx + B.NUMERIC_AFTER
        ]
        limited = limited[: B.MAX_PAGES_WITHOUT_BOUNDARIES]
        return ("expanded", limited, start, end, _concat(page_texts, limited))
    return ("expanded", expanded, start, end, _concat(page_texts, expanded))


# ------------------------------------------------------------------ driver --
def _run_spark(spark, cases, markers=MARKERS):
    """cases: list of (case_id, page_texts, tokens, anchor). Runs every
    case in ONE refine call (source = case id)."""
    cand_rows, page_rows, target_rows = [], [], []
    for cid, (page_texts, tokens, anchor) in enumerate(cases):
        for p, txt in page_texts.items():
            doc_id = cid * 1000 + p
            cand_rows.append((cid, f"case{cid}", doc_id))
            page_rows.append((doc_id, txt))
        target_rows.append((cid, tokens, anchor))
    cand = spark.createDataFrame(
        cand_rows, "target_id int, source string, doc_id bigint"
    )
    pages = spark.createDataFrame(page_rows, "doc_id bigint, norm string")
    targets = spark.createDataFrame(
        target_rows, "target_id int, tokens array<string>, anchor string"
    )
    out = B.refine_pages_with_boundaries(cand, pages, targets, *markers)
    return {r.target_id: r for r in out.collect()}


def _check(spark, cases, markers=MARKERS):
    """Spark against the mirror on every case; returns the mirror's
    methods."""
    got = _run_spark(spark, cases, markers)
    methods = []
    for cid, (page_texts, tokens, anchor) in enumerate(cases):
        method, pages_, start, end, text = _mirror_refine(
            page_texts, tokens, anchor, markers
        )
        methods.append(method)
        exp_csv = ",".join(str(cid * 1000 + p) for p in pages_)
        r = got[cid]
        assert r.method == method, (cid, r.method, method)
        assert r.pages_csv == exp_csv, (cid, r.pages_csv, exp_csv)
        assert r.n_pages == len(pages_), cid
        assert r.start_char == start, (cid, r.start_char, start)
        assert r.end_char == end, (cid, r.end_char, end)
        assert r.refined_text == text, (cid, r.refined_text[:80], text[:80])
    return methods


FILLER = "lorem word text page content filler body line item value "


def _page(*parts: str, pad: int = 120) -> str:
    body = " ".join(parts)
    while len(body) < pad:
        body += " " + FILLER.strip()
    return body


def _sized(n: int, body: str, at_end: bool = False) -> str:
    """A page of exactly ``n`` chars: ``body`` first (or last), filler
    around it."""
    pad = FILLER * (n // len(FILLER) + 1)
    s = pad[: n - len(body)] + body if at_end else (body + pad)[:n]
    assert len(s) == n
    return s


def _joined_to(n: int, last_page: str) -> dict[int, str]:
    """Two pages whose "\\n\\n"-joined text is exactly ``n`` chars; the
    second page is ``last_page`` and the first is filler."""
    first = _sized(n - B.PAGE_SEP_LEN - len(last_page), "")
    pages = {0: first, 1: last_page}
    assert len("\n\n".join(pages.values())) == n
    return pages


def test_branch_targeted_cases(spark):
    W, FW = B.START_WINDOW, B.FALLBACK_WINDOW
    cases = [
        # 0: clean boundaries — start marker + tokens in one window,
        # after-marker a bit later (section fallback +500).
        (
            {
                0: _page("intro only"),
                1: _page("ALPHA BRAVO qqstart alpha ALPHA BRAVO details"),
                2: _page("more ALPHA BRAVO body qqend beta trailing"),
                3: _page("tail page"),
            },
            ["ALPHA", "BRAVO"],
            "ALPHA",
        ),
        # 1: no page matches -> fallback_first5 of 7 candidates.
        (
            {p: _page(f"nothing here {p}") for p in range(7)},
            ["ZULU", "YANKEE"],
            "ZULU",
        ),
        # 2: page matches but no start marker -> expanded path.
        (
            {
                0: _page("CHARLIE DELTA appears here"),
                1: _page("plain"),
                2: _page("CHARLIE DELTA again"),
                3: _page("plain"),
            },
            ["CHARLIE", "DELTA"],
            "CHARLIE",
        ),
        # 3: start via the FALLBACK anchor scan (>=70% coverage + anchor,
        # no start marker anywhere) then no end candidates within reach
        # and short text -> end None -> expanded with start set.
        (
            {
                0: _page("ECHO FOXTROT 77 all together in one window"),
                1: _page("filler"),
            },
            ["ECHO", "FOXTROT", "77"],
            "77",
        ),
        # 4: before-marker ends the span early.
        (
            {
                0: _page("GOLF HOTEL qqstart alpha GOLF HOTEL"),
                1: _page("body qqnext item another entity"),
            },
            ["GOLF", "HOTEL"],
            "GOLF",
        ),
        # 5-7: window end rule, range(0, len - W, stride). Joined length
        # W has no main window; W + 1 has only the one at 0; W + 51 has
        # a last window at 50 that alone holds the marker. The anchor is
        # absent, so the fallback scan cannot stand in for a lost window.
        (
            _joined_to(W, _sized(W - 102, "ALPHA BRAVO qqstart alpha ")),
            ["ALPHA", "BRAVO"],
            "ZZNOANCHOR",
        ),
        (
            _joined_to(W + 1, _sized(W - 101, "ALPHA BRAVO qqstart alpha ")),
            ["ALPHA", "BRAVO"],
            "ZZNOANCHOR",
        ),
        (
            _joined_to(W + 51, _sized(W - 52, " BRAVO qqstart alpha", True) + "."),
            ["ALPHA", "BRAVO"],
            "ZZNOANCHOR",
        ),
        # 8-10: the same end rule for the fallback scan (no start marker
        # anywhere, text shorter than W): joined length FW, FW + 1, and
        # FW + 51 with the tokens and anchor only in the last window.
        (
            _joined_to(FW, _sized(FW - 102, "ECHO FOXTROT 77 ")),
            ["ECHO", "FOXTROT", "77"],
            "77",
        ),
        (
            _joined_to(FW + 1, _sized(FW - 101, "ECHO FOXTROT 77 ")),
            ["ECHO", "FOXTROT", "77"],
            "77",
        ),
        (
            _joined_to(FW + 51, _sized(FW - 52, " ECHO FOXTROT 77", True) + "."),
            ["ECHO", "FOXTROT", "77"],
            "77",
        ),
    ]
    _check(spark, cases)


def _placed(n: int, *spots: tuple[int, str]) -> str:
    """An ``n``-char filler page with each (position, text) written over
    it at that char position."""
    chars = list(_sized(n, ""))
    for pos, text in spots:
        chars[pos : pos + len(text)] = text
    assert len(chars) == n
    return "".join(chars)


def test_start_marker_fold_cases(spark):
    """The start-marker fold over each 300-char window, one page each:
    0: the marker straddles the stride edge at 250 and only the window at
    200 holds it whole plus the tokens; 1: the lower-priority marker comes
    first in the window, the higher-priority one still sets the start; 2:
    the window at 0 ends in a prefix of the higher-priority marker, so its
    lower-priority marker at 100 sets the start (that window has the most
    hits; the later ones hold the whole marker but fewer tokens)."""
    cases = [
        (
            {0: _placed(600, (245, "qqstart alpha"), (470, "delta echo"))},
            ["DELTA", "ECHO"],
            "ZZNOANCHOR",
        ),
        (
            {0: _placed(400, (20, "qqalt"), (60, "delta echo"), (150, "qqstart alpha"))},
            ["DELTA", "ECHO"],
            "ZZNOANCHOR",
        ),
        (
            {
                0: _placed(
                    420,
                    (0, "delta echo foxtrot"),
                    (100, "qqalt"),
                    (200, "delta echo"),
                    (290, "qqstart alpha"),
                )
            },
            ["DELTA", "ECHO", "FOXTROT"],
            "ZZNOANCHOR",
        ),
    ]
    _check(spark, cases)
    starts = [_mirror_refine(*case)[2] for case in cases]
    assert starts == [245, 150, 100], starts


def test_digit_token_cases(spark):
    """Digit tokens match a page only between word boundaries (F4), in the
    Unicode word class: not inside 'A12B', after '_' or after a letter
    such as 'Ó'; a hyphen or a page edge is a boundary. The per-page
    re-match decides which pages count, so each case's matched set (and
    with it the method and span) turns on those rules."""
    cases = [
        # 0: '12' only inside words on page 0, bounded on page 2
        (
            {
                0: _page("ALPHA A12B X_12 qqstart alpha"),
                1: _page("filler"),
                2: _page("ALPHA LOT 12 qqstart alpha ALPHA 12"),
                3: _page("body qqend beta closing") + " end.",
                4: _page("tail page"),
            },
            ["12", "ALPHA"],
            "ALPHA",
        ),
        # 1: Unicode letter before the digits is no boundary: no page
        # matches -> fallback_first5
        (
            {p: _page(f"BRAVO CESIÓN123 ÉTAPE{p}45") for p in range(6)},
            ["123", "BRAVO", "45"],
            "BRAVO",
        ),
        # 2: two digit tokens split by a hyphen, one at the page edge
        (
            {
                0: _page("plain"),
                1: "34 CHARLIE 12-34 qqstart alpha CHARLIE " + FILLER,
                2: _page("CHARLIE 1234 only"),
                3: _page("more 12 34 CHARLIE"),
            },
            ["12", "34", "CHARLIE"],
            "CHARLIE",
        ),
        # 3: digits only, matched on scattered pages -> expanded path
        (
            {p: _page(f"item {7 if p % 3 == 0 else 70 + p} 2024") for p in range(12)},
            ["7", "2024"],
            "ZZNOANCHOR",
        ),
    ]
    methods = _check(spark, cases)
    assert methods[1] == "fallback_first5"
    assert "expanded" in methods and "boundaries" in methods


def test_hard_cap_2000_and_page_caps(spark):
    # start marker fires, NO end marker anywhere, >2000 chars remain
    # -> end = start + 2000; with-boundaries span wider than 15 pages
    # -> capped at 15 (W6).
    pages = {0: _page("INDIA JULIET qqstart alpha INDIA JULIET", pad=150)}
    for p in range(1, 24):
        pages[p] = _page(f"INDIA JULIET continues {p}", pad=150)
    cases = [(pages, ["INDIA", "JULIET"], "INDIA")]
    got = _run_spark(spark, cases)
    method, pages_, start, end, _text = _mirror_refine(*cases[0])
    r = got[0]
    assert method == "boundaries" and end == start + B.HARD_END_CAP
    assert len(pages_) <= B.MAX_PAGES_WITH_BOUNDARIES
    assert r.method == method and r.start_char == start and r.end_char == end
    assert r.n_pages == len(pages_)


def test_empty_end_marker_lists(spark):
    # No end markers configured at all: the plan must still build (the
    # empty-cands guard mirrors _first_marker_pos) and only the 2000-char
    # hard cap can set end_char.
    pages = {0: _page("OSCAR PAPA qqstart alpha OSCAR PAPA", pad=150)}
    for p in range(1, 24):
        pages[p] = _page(f"OSCAR PAPA continues {p}", pad=150)
    cand = spark.createDataFrame(
        [(0, "case0", p) for p in pages], "target_id int, source string, doc_id bigint"
    )
    pdf = spark.createDataFrame(
        list(pages.items()), "doc_id bigint, norm string"
    )
    targets = spark.createDataFrame(
        [(0, ["OSCAR", "PAPA"], "OSCAR")],
        "target_id int, tokens array<string>, anchor string",
    )
    out = B.refine_pages_with_boundaries(
        cand, pdf, targets, START_MARKERS, [], []
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.method == "boundaries"
    assert r.end_char == r.start_char + B.HARD_END_CAP

    # short text + no markers -> no end boundary at all (expanded path)
    short = spark.createDataFrame(
        [(1, "case1", 0)], "target_id int, source string, doc_id bigint"
    )
    spdf = spark.createDataFrame(
        [(0, _page("QUEBEC ROMEO qqstart alpha QUEBEC ROMEO"))],
        "doc_id bigint, norm string",
    )
    st = spark.createDataFrame(
        [(1, ["QUEBEC", "ROMEO"], "QUEBEC")],
        "target_id int, tokens array<string>, anchor string",
    )
    out2 = B.refine_pages_with_boundaries(
        short, spdf, st, START_MARKERS, [], []
    ).collect()
    assert len(out2) == 1 and out2[0].end_char is None


def test_densest_run_and_numeric_cap(spark):
    # >10 matched pages in two clusters (gap > 3) -> densest run wins;
    # expansion overflows 20 -> numeric window [mn-2, mx+12] capped at 20.
    # The anchor never appears in any page, so the fallback start scan
    # cannot fire and the no-boundaries (expanded) path is forced.
    pages = {}
    for p in range(0, 40):
        if (5 <= p <= 9) or (20 <= p <= 27):  # clusters of 5 and 8
            pages[p] = _page(f"KILO LIMA match {p}")
        else:
            pages[p] = _page(f"plain {p}")
    cases = [(pages, ["KILO", "LIMA"], "ZZANCHOR")]
    got = _run_spark(spark, cases)
    method, pages_, start, end, _text = _mirror_refine(*cases[0])
    assert method == "expanded" and len(pages_) <= B.MAX_PAGES_WITHOUT_BOUNDARIES
    r = got[0]
    assert r.method == method
    assert r.pages_csv == ",".join(str(0 * 1000 + p) for p in pages_)


def test_section_end_paragraph_branch(spark):
    # after-marker followed by ".\n\n" within the page -> match end + 3.
    # The "." and page separator land adjacent by making the marker page
    # end with "." so the separator forms ".\n\n".
    pages = {
        0: _page("MIKE NOVEMBER qqstart alpha MIKE NOVEMBER"),
        1: _page("middle qqend beta closing words") + " end.",
        2: _page("next page"),
    }
    cases = [(pages, ["MIKE", "NOVEMBER"], "MIKE")]
    _check(spark, cases)


def test_multibyte_chars_keep_char_offsets(spark):
    """Boundary positions are CHAR offsets, not byte offsets: multi-byte
    text before the markers must not shift start/end. The mirror works in
    Python chars; Spark substring/locate/length are char-based on UTF-8 —
    this pins that no byte-based shortcut sneaks in."""
    cases = [
        (
            {
                0: _page("café résumé naïve Ünïcödé déjà vu " * 4),
                1: _page("PÄPA QÜEBEC qqstart alpha PÄPA QÜEBEC détails"),
                2: _page("more body qqend beta closing déjà"),
            },
            ["PÄPA", "QÜEBEC"],
            "PÄPA",
        ),
        # supplementary-plane chars (one code point, two UTF-16 units),
        # CRLF and U+0085 line breaks before the start marker: the
        # window scan must step one code point at a time, like Python.
        (
            {
                0: _page("😀 𝔘 mixed\r\nlines\u0085next 😀😀 𝔘𝔘 " * 4),
                1: _page("\r\n😀 SIERRA TANGO\u0085 qqstart alpha SIERRA TANGO"),
                2: _page("𝔘 body\r\n qqend beta closing 😀"),
            },
            ["SIERRA", "TANGO"],
            "SIERRA",
        ),
    ]
    _check(spark, cases)
    # sanity: the texts really are multi-byte (chars != bytes), and the
    # second case's first page is wider than chars in UTF-16 too
    for page_texts, _tokens, _anchor in cases:
        t = page_texts[0]
        assert len(t.encode("utf-8")) > len(t)
    assert len(cases[1][0][0].encode("utf-16-le")) > 2 * len(cases[1][0][0])


def _random_cases(seed: int, markers=MARKERS) -> list:
    """12 random cases; pages carry the first marker of each list."""
    (start, *_), (after, *_), (before, *_) = markers
    rng = random.Random(seed)
    vocab = ["papa", "quebec", "romeo", "sierra", "tango", "uniform", "victor"]
    cases = []
    for _ in range(12):
        n_pages = rng.randint(1, 18)
        toks = rng.sample(["PAPA", "QUEBEC", "ROMEO", "SIERRA", "99"], k=3)
        # page ids with gaps: candidate sets at real scale are unions of
        # chunk ranges minus other-source ids, never contiguous
        ids = sorted(rng.sample(range(60), k=n_pages))
        pages = {}
        for p in ids:
            words = rng.choices(vocab, k=rng.randint(10, 60))
            if rng.random() < 0.5:  # seed token hits
                words += [t.lower() for t in rng.sample(toks, k=rng.randint(1, 3))]
            if rng.random() < 0.25:
                words.append(start.lower())
            if rng.random() < 0.2:
                words.append(after.lower())
            if rng.random() < 0.15:
                words.append(before.lower())
            if rng.random() < 0.2:
                words.append("end.")
            pages[p] = " ".join(words)
        cases.append((pages, toks, toks[0]))
    return cases


@pytest.mark.parametrize("seed", [7, 42])
def test_randomized_agreement(spark, seed):
    _check(spark, _random_cases(seed))


@pytest.mark.parametrize("seed", [7, 42])
def test_special_char_markers(spark, seed):
    """Markers are data, never SQL text: ones holding a quote, a
    backslash, ``%``, ``(``, ``.`` and a newline match as plain substrings
    in both engines, on crafted cases for every marker and on random
    ones."""
    (s1, s2), (a1, a2), (b1,) = SPECIAL_MARKERS
    crafted = [
        (
            {
                0: _page("intro"),
                1: _page(f"ALPHA BRAVO {s1.lower()} ALPHA BRAVO details"),
                2: _page(f"body {a1.lower()} closing words") + " end.",
                3: _page("tail"),
            },
            ["ALPHA", "BRAVO"],
            "ALPHA",
        ),
        (
            {
                0: _page(f"CHARLIE DELTA {s2.lower()} CHARLIE DELTA"),
                1: _page(f"more {a2.lower()} words") + " end.",
                2: _page("tail"),
            },
            ["CHARLIE", "DELTA"],
            "CHARLIE",
        ),
        (
            {
                0: _page(f"ECHO GOLF {s1.lower()} ECHO GOLF"),
                1: _page(f"body {b1.lower()} next entity"),
            },
            ["ECHO", "GOLF"],
            "ECHO",
        ),
    ]
    cases = crafted + _random_cases(seed, SPECIAL_MARKERS)
    methods = _check(spark, cases, SPECIAL_MARKERS)
    assert methods[:3] == ["boundaries"] * 3


def test_large_document_scan_is_not_quadratic(spark):
    """Scale guard: a single 800-page (~120 KB text) group must refine in
    seconds. UTF8String resolves a char offset by walking from position
    0, so windows taken by substring at their offsets cost
    O(windows x position) — minutes at this size. The windows come from
    one regex pass over the text instead. The mirror (linear Python)
    cross-checks the answer at the same size."""
    import time

    pages = {
        p: _page(f"unique words here {p} {'filler body text ' * 5}", pad=150)
        for p in range(800)
    }
    pages[400] = _page("XRAY YANKEE qqstart alpha XRAY YANKEE details")
    pages[402] = _page("more body qqend beta closing")
    cases = [(pages, ["XRAY", "YANKEE"], "XRAY")]
    t0 = time.time()
    got = _run_spark(spark, cases)
    wall = time.time() - t0
    method, pages_, start, end, _text = _mirror_refine(*cases[0])
    r = got[0]
    assert (r.method, r.start_char, r.end_char) == (method, start, end)
    assert r.pages_csv == ",".join(str(p) for p in pages_)
    # generous bound: a few seconds typical, minutes if quadratic
    assert wall < 60, f"boundary scan took {wall:.0f}s — quadratic regression?"


def _window_regex_guards(plan, window_size: int) -> list[tuple[str, str]]:
    """For every ``window_size``-char window regex in an optimized plan's
    expressions: the alias it is projected under and the conditions of the
    CASE WHENs around it."""
    found = []

    def walk(e, alias, conds):
        cls = e.getClass().getSimpleName()
        if cls == "Alias":
            alias = e.name()
        elif cls == "CaseWhen":
            conds = conds + (e.toString().split(" THEN ")[0],)
        elif cls == "RegExpExtractAll" and f".{{{window_size}}}" in e.toString():
            found.append((alias, " ".join(conds)))
        kids = e.children()
        for i in range(kids.size()):
            walk(kids.apply(i), alias, conds)

    nodes = [plan]
    while nodes:
        node = nodes.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            walk(exprs.apply(i), None, ())
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_refine_plan_shape(spark):
    """Plan guard: one broadcast join for targets, no row-at-a-time
    Python, no SortMergeJoin on the candidates path, and the window
    scans are expression work above a single aggregate. The 300-char scan
    runs only where some page matched; the 200-char fallback regex sits
    only inside the ``_fb`` CASE WHEN on the main scan finding nothing,
    never in a column evaluated for every group."""
    cand = spark.createDataFrame(
        [(1, "s", 0), (1, "s", 1)], "target_id int, source string, doc_id bigint"
    )
    pages = spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text")], "doc_id bigint, norm string"
    )
    targets = spark.createDataFrame(
        [(1, ["ALPHA"], "ALPHA")], "target_id int, tokens array<string>, anchor string"
    )
    out = B.refine_pages_with_boundaries(
        cand, pages, targets, START_MARKERS, AFTER_MARKERS, BEFORE_MARKERS
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p  # zero Python on this operator
    opt = out._jdf.queryExecution().optimizedPlan()
    main = _window_regex_guards(opt, B.START_WINDOW)
    assert main and all("size(matching" in c for _, c in main), main
    fallback = _window_regex_guards(opt, B.FALLBACK_WINDOW)
    assert fallback, "no fallback scan in the plan"
    for alias, conds in fallback:
        assert alias == "_fb" and "isnull(_best" in conds, (alias, conds)
