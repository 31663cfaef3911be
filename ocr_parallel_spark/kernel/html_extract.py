"""Main-content extraction from raw HTML — the deterministic per-page kernel.

Replaces the reference's network OCR call (X2 in SURVEY §2.9,
/root/reference/app/clients/gemini_client.py:230-284) with a stdlib
``html.parser`` DOM walk plus text-density / link-density block scoring
(readability/trafilatura-style): boilerplate containers (nav/header/footer/
aside/script/style/form) are dropped wholesale, remaining text is segmented
into blocks at block-level tag boundaries, and a block survives when it
carries enough text and is not link-dominated.

Each surviving block is normalized with the reference's whitespace chain
(/root/reference/app/utils/text_cleaning.py:6-37 — see ``normalize.clean_text``)
and blocks are joined with ``"\\n\\n"`` exactly as the reference joins pages
(/root/reference/app/services/full_ocr_service.py:203 + chunking join).

Pure Python + stdlib only — html.parser is pinned by the Python version, which
keeps the byte-identical invariant stable across runs and parallelism levels.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

from ocr_parallel_spark.config import (
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
    MIN_HEADING_CHARS,
)
from ocr_parallel_spark.kernel.normalize import clean_text, nfc

# Subtrees dropped wholesale (boilerplate containers + non-content).
DROP_TAGS = frozenset(
    {
        "script",
        "style",
        "noscript",
        "template",
        "head",
        "nav",
        "header",
        "footer",
        "aside",
        "form",
        "iframe",
        "svg",
        "button",
        "select",
        "option",
    }
)

# Tags that delimit text blocks.
BLOCK_TAGS = frozenset(
    {
        "p",
        "div",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "li",
        "td",
        "th",
        "tr",
        "table",
        "article",
        "section",
        "main",
        "pre",
        "blockquote",
        "figcaption",
        "dd",
        "dt",
        "caption",
        "summary",
        "ul",
        "ol",
        "br",
        "hr",
        "body",
        "html",
    }
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Self-closing/void tags never get end tags; do not track them on the stack.
VOID_TAGS = frozenset({"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"})


@dataclass
class _Block:
    parts: list = field(default_factory=list)
    link_chars: int = 0
    total_chars: int = 0
    is_heading: bool = False
    start: int = -1
    end: int = -1


class _BlockParser(HTMLParser):
    """Single-pass segmenter: emits flat text blocks with link-char counts
    and absolute character spans into the decoded source."""

    def __init__(self, source: str):
        super().__init__(convert_charrefs=True)
        import re as _re

        self._line_starts = [0] + [
            m.end() for m in _re.finditer("\n", source)
        ]
        self.blocks: list[_Block] = []
        self._cur = _Block()
        self._drop_depth = 0
        self._link_depth = 0
        self._heading_depth = 0

    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def _flush(self) -> None:
        if self._cur.total_chars > 0:
            self.blocks.append(self._cur)
        self._cur = _Block(is_heading=self._heading_depth > 0)

    def handle_starttag(self, tag, attrs):
        if tag in DROP_TAGS:
            self._flush()
            if tag not in VOID_TAGS:
                self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if tag in HEADING_TAGS:
            self._heading_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._cur.is_heading = self._heading_depth > 0

    def handle_endtag(self, tag):
        if tag in DROP_TAGS:
            if self._drop_depth > 0:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        if tag in BLOCK_TAGS:
            self._flush()
        if tag in HEADING_TAGS and self._heading_depth > 0:
            self._heading_depth -= 1

    def handle_data(self, data):
        if self._drop_depth:
            return
        stripped = clean_text(data)
        if not stripped:
            return
        pos = self._offset()
        if self._cur.start < 0:
            self._cur.start = pos
        self._cur.end = pos + len(data)
        # store the CLEANED run: extract_blocks joins parts with single
        # spaces, and re-cleaning each part there doubled the kernel's
        # hottest call (round-6 profile) for byte-identical output.
        self._cur.parts.append(stripped)
        n = len(stripped)
        self._cur.total_chars += n
        if self._link_depth > 0:
            self._cur.link_chars += n

    def close(self):
        super().close()
        self._flush()


def extract_blocks(html: str) -> list[dict]:
    """Segment HTML into candidate blocks. Returns one dict per non-empty
    block: text (normalized), chars, link_density, is_heading, span."""
    parser = _BlockParser(html)
    parser.feed(html)
    parser.close()
    out = []
    for b in parser.blocks:
        # parts are already cleaned runs (see handle_data); the outer
        # clean_text is then an identity pass kept as a cheap guard.
        text = clean_text(" ".join(b.parts))
        if not text:
            continue
        density = (b.link_chars / b.total_chars) if b.total_chars else 0.0
        out.append(
            {
                "text": text,
                "chars": len(text),
                "link_density": density,
                "is_heading": b.is_heading,
                "span": (b.start, b.end),
            }
        )
    return out


def score_keep(block: dict) -> bool:
    """Density rule: enough text and not link-dominated."""
    if block["link_density"] > MAX_LINK_DENSITY:
        return False
    if block["is_heading"]:
        return block["chars"] >= MIN_HEADING_CHARS
    return block["chars"] >= MIN_BLOCK_CHARS


def extract_html(html: str) -> dict:
    """Full extraction: segment, score, join surviving blocks with
    ``"\\n\\n"``. Returns text, spans of kept blocks, and block counters."""
    html = nfc(html)
    blocks = extract_blocks(html)
    kept = [b for b in blocks if score_keep(b)]
    text = "\n\n".join(b["text"] for b in kept)
    return {
        "text": text,
        "spans": [b["span"] for b in kept],
        "n_blocks_total": len(blocks),
        "n_blocks_kept": len(kept),
    }


class _LinkParser(HTMLParser):
    """Collect <a href> values in document order (outlink extraction —
    the webgraph edge source feeding operators/graph.py pagerank_int).
    Same stdlib parser as block extraction: version-pinned by Python,
    lenient on malformed markup, no external deps."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)
                    break


def extract_links(html: str) -> list[str]:
    """All <a href> targets of an HTML document, in document order,
    duplicates preserved (the caller decides edge multiplicity)."""
    p = _LinkParser()
    p.feed(html)
    p.close()
    return p.links


class _AnchorParser(HTMLParser):
    """Collect (href, anchor text) pairs in document order — the anchor
    text a page uses to describe its outlink target, the classic
    webgraph relevance/quality signal (inbound anchor aggregation).
    Text is everything between <a href=...> and </a> (nested markup
    flattened), whitespace-normalized; nested <a> is treated as the
    HTML5 parser does — the open anchor closes implicitly."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            text = " ".join("".join(self._buf).split())
            self.pairs.append((self._href, text))
        self._href, self._buf = None, []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag == "a":
            self._flush()  # implicit close of a nested/unclosed anchor
            for k, v in attrs:
                if k == "href" and v:
                    self._href = v
                    break

    def handle_endtag(self, tag):  # noqa: D102
        if tag == "a":
            self._flush()

    def handle_data(self, data):  # noqa: D102
        if self._href is not None:
            self._buf.append(data)

    def close(self) -> None:  # noqa: D102 — flush an unclosed trailing anchor
        super().close()
        self._flush()


def extract_links_with_anchors(html: str) -> list[tuple[str, str]]:
    """(href, anchor text) pairs in document order, duplicates
    preserved. The href set equals :func:`extract_links`' output."""
    p = _AnchorParser()
    p.feed(html)
    p.close()
    return p.pairs


def resolve_links(base_url: str, hrefs: list[str]) -> list[str]:
    """Resolve extracted hrefs against the page's base URL (RFC 3986
    via stdlib ``urljoin`` — deterministic, version-pinned by Python):
    the step between outlink extraction (relative hrefs) and the
    webgraph (absolute node ids for pagerank/host rollups). Handles
    root-relative, relative, dot-segment, query/fragment-only,
    protocol-relative, and absolute targets; order and duplicates
    preserved."""
    from urllib.parse import urljoin

    return [urljoin(base_url, h) for h in hrefs]


def join_links_escaped(links: list[str]) -> str:
    """Serialize a link list to ONE string losslessly: percent-encode
    '%' first, then ',' per href, then comma-join. Real-web hrefs carry
    commas (e.g. Google Maps /@lat,lng paths); a naive ``",".join``
    would both corrupt the element count and be ambiguous to split.
    Inverse: ``split(",")`` then unquote ``%2C`` -> ``,`` and ``%25``
    -> ``%``."""
    return ",".join(escape_link(link) for link in links)


def escape_link(s: str) -> str:
    """The ONE lossless comma-escape used by every serialized link/anchor
    list (% -> %25 first, then , -> %2C); a second implementation of
    this rule anywhere is a drift bug."""
    return s.replace("%", "%25").replace(",", "%2C")
