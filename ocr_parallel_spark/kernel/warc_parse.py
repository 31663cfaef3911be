"""Pure-Python WARC record parsing (ISO 28500, public spec) — the
driver-free kernel behind ``sources/warc.py``.

Web-crawl corpora (Common Crawl and everything shaped like it) ship as
WARC: a concatenation of records, each a ``WARC/1.0`` version line,
CRLF-terminated named headers, a blank line, then exactly
``Content-Length`` bytes of block. Parsing is LENGTH-DRIVEN, never
delimiter scanning: a payload that itself contains the string
``WARC/1.0`` (a crawled page about WARC, a mirrored crawl) must not
split a record, so the only legal way to find the next record is to
jump ``Content-Length`` bytes. Records are separated by two CRLFs,
which the spec counts OUTSIDE the block.

Compression: CC ships ``.warc.gz`` with one gzip MEMBER PER RECORD,
concatenated. A single whole-file ``zlib`` pass stops at the first
member boundary, so :func:`gunzip_salvage` loops a fresh
``decompressobj`` over ``unused_data`` until the stream is exhausted —
this also transparently handles the single-member whole-file case.

No Spark imports: unit-testable without a session, identical behavior
driver-side and inside an Arrow batch.
"""

from __future__ import annotations

import zlib

GZIP_MAGIC = b"\x1f\x8b"
_CRLF = b"\r\n"
_BLANK = b"\r\n\r\n"


def gunzip_salvage(data: bytes) -> tuple[bytes, str | None]:
    """Decompress every concatenated gzip member, salvaging the good
    prefix of a damaged archive: returns ``(decompressed_bytes,
    error)`` where ``error`` is ``None`` for a clean file and a
    message for a corrupt/truncated member or non-gzip trailing bytes.
    Bytes from complete members BEFORE the damage are always returned —
    at CC scale damaged archive tails are routine, and one bad tail
    must not discard a gigabyte of good records (VERDICT r4 #4 /
    ADVICE r4). A truncated final member still contributes what it
    decompressed (it may end mid-record; the WARC splitter reports
    that precisely). An all-NUL tail is benign block-alignment padding
    (some archivers pad .gz shards), not an error. Plain bytes pass
    through untouched."""
    if not data.startswith(GZIP_MAGIC):
        return data, None
    out = []
    rest = data
    while rest.startswith(GZIP_MAGIC):
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        try:
            chunk = d.decompress(rest) + d.flush()
        except zlib.error as exc:
            return b"".join(out), f"gzip: corrupt member ({exc})"
        out.append(chunk)
        if not d.eof:
            return (
                b"".join(out),
                "gzip: truncated member (stream ends mid-record)",
            )
        rest = d.unused_data
    if rest and rest.strip(b"\x00"):
        return (
            b"".join(out),
            f"gzip: {len(rest)} trailing bytes after last member are not gzip",
        )
    return b"".join(out), None


def parse_warc_salvage(data: bytes) -> tuple[list[dict], str | None]:
    """Split a (decompressed) WARC file into records, salvaging the
    good prefix of a damaged file.

    Returns ``(records, error)``: one dict per record — ``warc_type``,
    ``target_uri``, ``record_id``, ``content_type`` (the WARC block's
    type, e.g. ``application/http; msgtype=response``), ``warc_date``
    and ``block`` (the raw ``Content-Length`` bytes) — plus ``None``
    for a clean file or an error message locating the first malformed
    record. Everything length-parsed BEFORE the damage is always
    returned: one truncated record in a 1 GB archive must cost the
    corrupt region, not thousands of good pages (VERDICT r4 #4).
    Parsing stops at the first error because record framing is
    length-driven — past a bad Content-Length there is no trustworthy
    resync point (scanning for ``WARC/1.0`` would split payloads that
    merely contain that string, the exact trap the module docstring
    describes)."""
    records: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        while data.startswith(_CRLF, pos):  # inter-record separators
            pos += 2
        if pos >= n:
            break
        rec_start = pos
        eol = data.find(_CRLF, pos)
        if eol < 0:
            return records, f"warc: unterminated version line at byte {pos}"
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            return (
                records,
                f"warc: expected WARC/ version line at byte {pos}, got {version[:20]!r}",
            )
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = data.find(_CRLF, pos)
            if eol < 0:
                return records, f"warc: unterminated header block in record at byte {rec_start}"
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break
            key, _, val = line.partition(b":")
            headers[key.strip().decode("ascii", "replace").lower()] = val.strip().decode(
                "utf-8", "replace"
            )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            return records, f"warc: bad Content-Length in record at byte {rec_start}"
        block = data[pos : pos + length]
        if len(block) != length:
            return (
                records,
                f"warc: truncated block (want {length} bytes, file ends {length - len(block)} short)",
            )
        pos += length
        records.append(
            {
                "warc_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "record_id": headers.get("warc-record-id", ""),
                "content_type": headers.get("content-type", ""),
                "warc_date": headers.get("warc-date", ""),
                "block": block,
            }
        )
    return records, None


def split_http_response(block: bytes) -> tuple[str, bytes]:
    """Split an ``application/http`` response block into (status line,
    body bytes). The body is everything after the first blank line —
    again length-implied, never scanned for markers."""
    head, sep, body = block.partition(_BLANK)
    if not sep:
        return head.split(_CRLF, 1)[0].decode("ascii", "replace"), b""
    return head.split(_CRLF, 1)[0].decode("ascii", "replace"), body


def build_record(
    warc_type: str,
    target_uri: str,
    block: bytes,
    record_id: str,
    content_type: str = "application/http; msgtype=response",
    warc_date: str = "",
) -> bytes:
    """Serialize one WARC record (the writer twin of :func:`parse_warc_salvage`,
    used by tests and fixture synthesis). Header order is fixed so the
    bytes are deterministic."""
    date_line = f"WARC-Date: {warc_date}\r\n" if warc_date else ""
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: {record_id}\r\n"
        f"WARC-Target-URI: {target_uri}\r\n"
        f"{date_line}"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(block)}\r\n"
        f"\r\n"
    ).encode("utf-8")  # WARC named fields are UTF-8; IRIs are legal
    return head + block + _BLANK


# --------------------------------------------------------- charset sniffing

_META_CHARSET_RE = None  # compiled lazily; pure-Python module stays import-light


def split_http_response_full(block: bytes) -> tuple[str, dict, bytes]:
    """Like :func:`split_http_response` but keeps the HTTP headers —
    charset sniffing needs ``Content-Type``."""
    head, sep, body = block.partition(_BLANK)
    lines = head.split(_CRLF)
    status = lines[0].decode("ascii", "replace")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        if k:
            headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
                "latin-1", "replace"
            )
    return status, headers, (body if sep else b"")


def sniff_and_decode(body: bytes, content_type: str = "") -> tuple[str, str]:
    """Charset-aware page decode: ``(charset_used, text)``.

    Real crawls are not all UTF-8; the standard sniffing precedence
    (WHATWG encoding sniffing, simplified to the signals crawl
    pipelines actually use) is

    1. byte-order mark (UTF-16 LE/BE, UTF-8-sig),
    2. the HTTP ``Content-Type`` header's ``charset=`` parameter,
    3. an HTML ``<meta charset=...>`` / http-equiv declaration in the
       first 1024 bytes,
    4. UTF-8 default.

    Decoding always uses errors='replace' — a mislabeled page must
    yield U+FFFD runs, never kill the job (the same contract as
    ``warc_docs``). An unknown/unsupported label falls back to UTF-8
    and reports ``utf-8``, so downstream grouping by charset never
    sees unbounded junk labels.
    """
    import codecs
    import re

    global _META_CHARSET_RE
    if body.startswith(b"\xff\xfe"):
        return "utf-16-le", body[2:].decode("utf-16-le", "replace")
    if body.startswith(b"\xfe\xff"):
        return "utf-16-be", body[2:].decode("utf-16-be", "replace")
    if body.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig", body[3:].decode("utf-8", "replace")
    if _META_CHARSET_RE is None:
        _META_CHARSET_RE = re.compile(
            rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_:.-]+)""",
            re.IGNORECASE,
        )
    label = ""
    m = re.search(r"charset\s*=\s*([A-Za-z0-9_:.-]+)", content_type, re.IGNORECASE)
    if m:
        label = m.group(1)
    else:
        mm = _META_CHARSET_RE.search(body[:1024])
        if mm:
            label = mm.group(1).decode("ascii", "replace")
    charset = label.strip().lower() or "utf-8"
    try:
        codecs.lookup(charset)
    except LookupError:
        charset = "utf-8"
    return charset, body.decode(charset, "replace")
