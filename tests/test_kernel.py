"""Kernel unit tests (no Spark) — the byte-identical invariant.

Mirrors SURVEY §5 item 1: golden-fixture assertions on the pure-Python
extraction kernel, plus property-style checks on the normalization chain
(reference semantics: /root/reference/app/utils/text_cleaning.py:6-37,
app/utils/text_localization.py:799-816).
"""

from __future__ import annotations

import base64
import json
import pathlib

import pytest

from ocr_parallel_spark.fixtures import fixture_payloads
from ocr_parallel_spark.kernel import clean_text, extract_payload, simhash64
from ocr_parallel_spark.kernel.pdf_layout import reconstruct_layout
from ocr_parallel_spark.kernel.simhash import minhash_signature

GOLDENS = json.loads(
    (pathlib.Path(__file__).parent / "goldens" / "extraction_goldens.json").read_text()
)


@pytest.mark.parametrize("golden", GOLDENS, ids=[g["fixture_id"] for g in GOLDENS])
def test_golden_byte_identical(golden):
    payload = base64.b64decode(golden["payload_b64"])
    rec = extract_payload(payload)
    assert rec["status"] == golden["expected_status"]
    assert rec["error_type"] == golden["expected_error_type"]
    if golden["expected_status"] == "found":
        # THE invariant: byte-identical extracted text.
        assert rec["text"].encode("utf-8") == golden["expected_text"].encode("utf-8")
        assert [list(s) for s in rec["spans"]] == golden["expected_spans"]
        assert rec["simhash"] == golden["simhash"]
    else:
        assert rec["text"] is None


def test_fixture_statuses_match_declared():
    for case in fixture_payloads():
        rec = extract_payload(case["payload"])
        assert rec["status"] == case["expected_status"], case["fixture_id"]


def test_boilerplate_removed_matches_plain():
    cases = {c["fixture_id"]: c["payload"] for c in fixture_payloads()}
    plain = extract_payload(cases["html-plain-01"])["text"]
    noisy = extract_payload(cases["html-boilerplate-01"])["text"]
    farm = extract_payload(cases["html-linkfarm-01"])["text"]
    assert plain == noisy == farm
    assert "Home" not in noisy and "Copyright" not in noisy
    assert "cheap deals" not in farm


def test_clean_text_reference_chain():
    # literal \n -> space, newline -> space, \s+ -> single, strip
    assert clean_text("a\\nb") == "a b"
    assert clean_text("a\nb") == "a b"
    assert clean_text("  a \t\t b  ") == "a b"
    assert clean_text("") == ""
    assert clean_text("   ") == ""


def test_remove_redundant_separators():
    """Separator collapse happens in extract_html: kept blocks are
    flattened by clean_text and joined by exactly one blank line, so
    blank-line runs and ragged line edges in the page never reach the
    text."""
    from ocr_parallel_spark.kernel import extract_html

    para = "word " * 20
    html = (
        f"<div>\n\n\n  {para}\n \n \n</div>"
        f"<p>  {para}  \n\n\n\n  {para}</p>\n\n\n<p>{para}</p>"
    )
    text = extract_html(html)["text"]
    assert "\n\n\n" not in text
    assert text.split("\n\n") == [
        para.strip(), f"{para.strip()} {para.strip()}", para.strip()
    ]


def test_layout_reconstruction_reading_order():
    runs = [
        {"page": 1, "y": 20.0, "x": 0.0, "text": "below"},
        {"page": 1, "y": 10.0, "x": 50.0, "text": "right"},
        {"page": 1, "y": 10.5, "x": 0.0, "text": "left"},
    ]
    # y within tolerance 2.0 => same line, ordered by x; lower line after.
    assert reconstruct_layout(runs) == "left right below"


def test_simhash_near_texts_close():
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    c = "completely different content about distributed query engines and shuffles"
    assert (simhash64(a) ^ simhash64(b)).bit_count() <= 16
    assert (simhash64(a) ^ simhash64(c)).bit_count() > 20


def test_simhash_deterministic():
    t = "stable deterministic content for fingerprinting checks"
    assert simhash64(t) == simhash64(t)
    assert minhash_signature(t) == minhash_signature(t)


def test_minhash_similarity_ordering():
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    c = "one two three four five six seven eight nine ten"
    sa, sb, sc = (minhash_signature(t) for t in (a, b, c))
    sim_ab = sum(x == y for x, y in zip(sa, sb)) / len(sa)
    sim_ac = sum(x == y for x, y in zip(sa, sc)) / len(sa)
    assert sim_ab > sim_ac


def test_error_rows_never_raise():
    for payload in [None, b"", b"\x00\x01\x02", b"%PDF-1.4", b"%FAKEPDF{bad"]:
        rec = extract_payload(payload)
        assert rec["status"] == "error"
        assert rec["error_type"] is not None


def test_extract_links_order_and_edge_cases():
    from ocr_parallel_spark.kernel.html_extract import extract_links

    html = (
        "<a href='/1'>a</a><a name='x'>no href</a>"
        "<div><A HREF='/2'>b</A><a href=''>empty</a></div>"
        "<a href='/1'>dup kept</a><a href='https://e.com/p?q=1#f'>abs</a>"
    )
    assert extract_links(html) == ["/1", "/2", "/1", "https://e.com/p?q=1#f"]
    assert extract_links("") == []
    # malformed markup: lenient, never raises
    assert extract_links("<a href='/x' <broken") in ([], ["/x"])


def test_extract_links_with_anchors():
    from ocr_parallel_spark.kernel.html_extract import (
        extract_links,
        extract_links_with_anchors,
    )

    html = (
        "<a href='/1'>plain</a>"
        "<a href='/2'><b>nested</b> markup &amp; entity</a>"
        "<a href='/3'>first<a href='/4'>implicit close</a>"
        "<a href='/5'>unclosed trailing"
    )
    pairs = extract_links_with_anchors(html)
    assert pairs == [
        ("/1", "plain"),
        ("/2", "nested markup & entity"),
        ("/3", "first"),
        ("/4", "implicit close"),
        ("/5", "unclosed trailing"),
    ]
    # href set parity with the plain link extractor
    assert [h for h, _ in pairs] == extract_links(html)
    assert extract_links_with_anchors("") == []
    assert extract_links_with_anchors("<a name='x'>no href</a>") == []


def test_resolve_links_rfc3986_cases():
    from ocr_parallel_spark.kernel.html_extract import resolve_links

    base = "https://h.example.com/a/b/page.html?x=1"
    assert resolve_links(base, [
        "/root",                      # root-relative
        "sibling",                    # relative
        "../up",                      # dot segments
        "?q=2",                       # query-only
        "#frag",                      # fragment-only
        "//cdn.example.net/lib.js",   # protocol-relative
        "https://other.org/p",        # absolute
    ]) == [
        "https://h.example.com/root",
        "https://h.example.com/a/b/sibling",
        "https://h.example.com/a/up",
        "https://h.example.com/a/b/page.html?q=2",
        "https://h.example.com/a/b/page.html?x=1#frag",
        "https://cdn.example.net/lib.js",
        "https://other.org/p",
    ]
    assert resolve_links(base, []) == []


def test_link_join_escaped_lossless():
    """A comma or percent inside an href must survive the serialized
    round trip — a naive comma join corrupts n_links on real-web URLs
    (e.g. maps /@lat,lng paths)."""
    from ocr_parallel_spark.kernel.html_extract import (
        extract_links,
        join_links_escaped,
    )

    def split_links_escaped(s):
        """The inverse the join's docstring defines (empty string -> [])."""
        if s == "":
            return []
        return [p.replace("%2C", ",").replace("%25", "%") for p in s.split(",")]

    links = ["/@40.7,-74.0", "/p?a=1,2", "/100%25off", "/plain"]
    s = join_links_escaped(links)
    # escaped commas are %2C, so every raw comma is a separator
    assert s.count(",") == len(links) - 1
    assert split_links_escaped(s) == links
    assert split_links_escaped("") == []
    assert split_links_escaped(join_links_escaped([])) == []
    html = "<a href='/@40.7,-74.0'>x</a><a href='/100%25off'>y</a>"
    parsed = extract_links(html)
    assert split_links_escaped(join_links_escaped(parsed)) == parsed
