"""WARC source — reads web-crawl archive files into a records table.

Extends the S-family sources (SURVEY §2.1) with the container the
webtext world actually ships: Common-Crawl-style ``.warc`` /
``.warc.gz`` files. The execution model mirrors production CC-on-Spark
pipelines: **one archive file per task**. ``binaryFile`` loads each
file as a single row (it never splits a file), so a 100 TB crawl of
~1 GB archives parallelizes across ~100k tasks with per-task memory
bounded by one archive — the standard CC processing shape. Record
splitting runs inside one ``mapInPandas`` kernel
(`kernel/warc_parse.py`, length-driven per the WARC spec), so archive
bytes never cross an exchange: the scan task that read the file emits
already-parsed records.

A stricter-than-needed ``pathGlobFilter`` plus the recursive lookup
keeps directory junk (_SUCCESS markers, checksums) out of the scan.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

WARC_RECORDS_SCHEMA = (
    "path string, record_idx long, warc_type string, target_uri string, "
    "content_type string, warc_date string, block binary, error string"
)


def read_warc(spark: SparkSession, path: str, glob: str = "*.warc*") -> DataFrame:
    """Read WARC archives under ``path`` into one row per record.

    Columns: ``path`` (source archive), ``record_idx`` (0-based within
    its archive — with the archive path this is a stable record key),
    ``warc_type`` / ``target_uri`` / ``content_type`` (WARC headers),
    ``block`` (the raw Content-Length bytes; for ``response`` records
    split HTTP framing off with
    ``kernel.warc_parse.split_http_response``), ``error`` (null for
    parsed records).

    Error-as-data with SALVAGE (the X7 convention, VERDICT r4 #4): a
    damaged archive yields every record parsed before the corruption
    point PLUS one row with ``warc_type='_error'`` whose
    ``record_idx`` is the index the failed record would have had (0
    for a file that is corrupt from the first record) and the parser's
    message in ``error``. At CC scale damaged archive tails are
    routine; one truncated record in a 1 GB archive costs the corrupt
    region, never the thousands of good pages before it — and the task
    never fails. Consumers filter ``warc_type == 'response'``, so
    error rows flow only to whoever asks for them.
    """
    import pandas as pd

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ocr_parallel_spark.kernel.warc_parse import (
            gunzip_salvage,
            parse_warc_salvage,
        )

        cols = [
            "path",
            "record_idx",
            "warc_type",
            "target_uri",
            "content_type",
            "warc_date",
            "block",
            "error",
        ]
        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                data, gz_err = gunzip_salvage(bytes(content))
                recs, parse_err = parse_warc_salvage(data)
                for i, rec in enumerate(recs):
                    rows.append(
                        (
                            path_,
                            i,
                            rec["warc_type"],
                            rec["target_uri"],
                            rec["content_type"],
                            rec["warc_date"],
                            rec["block"],
                            None,
                        )
                    )
                if gz_err or parse_err:
                    # A gzip-truncated tail usually ALSO ends mid-record;
                    # report both causes in one error row at the index the
                    # lost record would have occupied.
                    msg = "; ".join(m for m in (parse_err, gz_err) if m)
                    rows.append(
                        (path_, len(recs), "_error", "", "", "", b"", msg[:500])
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(gen, WARC_RECORDS_SCHEMA)


def _fixture_key(sf_dir: str, salt: bytes) -> str:
    """Fixture cache key: md5 over the parse kernel's source, THIS
    module's source, the sf dir, and a per-fixture salt. Both sources
    matter — a synthesis-logic or CHARSET_SUFFIXES edit here used to
    keep the old key and spuriously red the warc gates until /tmp was
    cleared."""
    import hashlib

    import ocr_parallel_spark.kernel.warc_parse as _kmod

    h = hashlib.md5()
    for mod_file in (_kmod.__file__, __file__):
        with open(mod_file, "rb") as fh:
            h.update(fh.read())
    h.update(sf_dir.encode() + salt)
    return h.hexdigest()[:10]


def synthesize_warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic WARC archives synthesized from the documents table
    (gate/test plumbing — no external data). Four archives, docs
    striped by ``doc_id % 4``; archive 0 is per-record-member gzipped
    (the CC wire format) so the gated read path exercises the
    multi-member decompression loop. Each archive opens with a
    ``warcinfo`` record the reader must type (and consumers filter).
    Idempotent: keyed on the kernel source + THIS module's source +
    sf_dir (editing synthesis logic or CHARSET_SUFFIXES here must
    invalidate the cache, not silently reuse a stale fixture),
    marker-completed so a partial dir from an interrupted build never
    passes for a fixture."""
    import gzip
    import os

    from ocr_parallel_spark.kernel.warc_parse import build_record

    key = _fixture_key(sf_dir, b"v1")
    out_dir = f"/tmp/warc_fixture_{key}"
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    shards: list[list[bytes]] = [[], [], [], []]
    for r in sorted(rows, key=lambda r: r.doc_id):
        body = r.text.encode("utf-8")
        block = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"
            + body
        )
        shards[r.doc_id % 4].append(
            build_record(
                "response",
                f"http://example.com/doc/{r.doc_id}",
                block,
                f"<urn:uuid:doc-{r.doc_id}>",
                warc_date=f"2026-01-{1 + r.doc_id % 28:02d}T00:00:00Z",
            )
        )
    for i, recs in enumerate(shards):
        info = build_record(
            "warcinfo",
            "",
            b"software: ocr-parallel-spark fixture\r\n",
            f"<urn:uuid:info-{i}>",
            content_type="application/warc-fields",
        )
        if i == 0:  # CC wire format: one gzip member per record
            payload = b"".join(
                gzip.compress(rec, mtime=0) for rec in [info, *recs]
            )
            path = os.path.join(out_dir, f"shard-{i}.warc.gz")
        else:
            payload = b"".join([info, *recs])
            path = os.path.join(out_dir, f"shard-{i}.warc")
        with open(path, "wb") as fh:
            fh.write(payload)
    with open(marker, "w") as fh:
        fh.write("ok")
    return out_dir


def response_bodies(recs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """``response`` records -> (target_uri[, *extra_cols], body): HTTP
    framing stripped length-wise in one mapInPandas that pipelines with
    the record splitter (same stage, no exchange — the 'WARC source'
    plan that ``scripts/dump_plans.py`` writes). Shared by the warc_extract gate and the curation/extract
    jobs so their byte semantics cannot drift. ``extra_cols`` names
    string record columns (e.g. ``warc_date``) to carry through."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import functions as F

    def strip_http(batches):
        import pandas as pd

        from ocr_parallel_spark.kernel.warc_parse import split_http_response

        for pdf in batches:
            out = {"target_uri": pdf["target_uri"]}
            for c in extra_cols:
                out[c] = pdf[c]
            out["body"] = [
                split_http_response(bytes(b))[1] for b in pdf["block"]
            ]
            yield pd.DataFrame(out)

    extra_schema = "".join(f", {c} string" for c in extra_cols)
    return (
        recs.filter(F.col("warc_type") == "response")
        .select("target_uri", *extra_cols, "block")
        .mapInPandas(
            strip_http, f"target_uri string{extra_schema}, body binary"
        )
    )


def warc_docs(
    spark: SparkSession, path: str, sniff_charset: bool = False
) -> DataFrame:
    """WARC archives -> the curation job's docs shape
    ``(doc_id, url, text, source)``. ``doc_id = xxhash64(url)`` so
    resume keys are stable across runs and re-crawls of the same url
    dedup onto one key; a 64-bit hash is collision-safe to ~billions of
    urls — a corpus beyond that should key on (archive, offset)
    instead.

    ``sniff_charset=False`` (default): bodies decode as UTF-8 via
    CAST(binary AS STRING), not decode() — decode raises
    MALFORMED_CHARACTER_CODING on the first invalid byte, and one bad
    page must not kill a 100 TB job; the cast substitutes U+FFFD.
    ``sniff_charset=True``: full BOM/header/meta sniffing
    (``decode_responses``) for crawls that are not known-UTF-8 — same
    replace-never-raise contract, one extra string pass per page."""
    from pyspark.sql import functions as F

    if sniff_charset:
        decoded = decode_responses(read_warc(spark, path))
        return decoded.select(
            F.xxhash64("target_uri").alias("doc_id"),
            F.col("target_uri").alias("url"),
            "text",
            F.lit("warc").alias("source"),
        )
    return response_bodies(read_warc(spark, path)).select(
        F.xxhash64("target_uri").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("text"),
        F.lit("warc").alias("source"),
    )


def decode_responses(recs: DataFrame) -> DataFrame:
    """``response`` records -> ``(target_uri, charset, text)`` with
    charset-aware decoding (kernel ``sniff_and_decode``: BOM > HTTP
    Content-Type charset > html meta charset > UTF-8, always
    errors='replace'). Use this instead of ``response_bodies`` + a cast
    when the crawl is not known-UTF-8 — which at web scale it never
    is. Same stage shape: pipelines with the record splitter, nothing
    shuffles."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import functions as F

    def decode(batches):
        import pandas as pd

        from ocr_parallel_spark.kernel.warc_parse import (
            sniff_and_decode,
            split_http_response_full,
        )

        for pdf in batches:
            out = {"target_uri": pdf["target_uri"], "charset": [], "text": []}
            for block in pdf["block"]:
                _, headers, body = split_http_response_full(bytes(block))
                cs, text = sniff_and_decode(body, headers.get("content-type", ""))
                out["charset"].append(cs)
                out["text"].append(text)
            yield pd.DataFrame(out)

    return (
        recs.filter(F.col("warc_type") == "response")
        .select("target_uri", "block")
        .mapInPandas(decode, "target_uri string, charset string, text string")
    )


# Per-mode (doc_id % 4) charset suffixes for the charset fixture; the
# SQL oracle re-derives them as literals, so they live here as the one
# source of truth. Mode 1 must stay latin-1-encodable.
CHARSET_SUFFIXES = {
    0: " — café 中文",
    1: " café ±",
    2: " — naïve",
    3: " — Ωmega",
}


def synthesize_charset_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A second deterministic WARC fixture exercising charset sniffing:
    docs striped by ``doc_id % 4`` into (0) UTF-8 declared by the HTTP
    Content-Type header, (1) latin-1 declared ONLY by an html meta tag,
    (2) UTF-8 with BOM and no declaration anywhere, (3) UTF-16-LE with
    BOM. Each text gets a deterministic non-ASCII suffix (the corpus is
    pure ASCII, which would make every charset vacuously correct).
    Idempotent and marker-completed like the main fixture; cache key
    covers kernel + this module's source (see synthesize_warc_fixture)."""
    import os

    from ocr_parallel_spark.kernel.warc_parse import build_record

    key = _fixture_key(sf_dir, b"charset-v1")
    out_dir = f"/tmp/warc_charset_{key}"
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    recs = []
    for r in sorted(rows, key=lambda r: r.doc_id):
        mode = r.doc_id % 4
        text = r.text + CHARSET_SUFFIXES[mode]
        if mode == 0:
            http_ct = b"text/html; charset=utf-8"
            body = text.encode("utf-8")
        elif mode == 1:
            http_ct = b"text/html"
            body = ('<meta charset="iso-8859-1"> ' + text).encode("iso-8859-1")
        elif mode == 2:
            http_ct = b"text/html"
            body = b"\xef\xbb\xbf" + text.encode("utf-8")
        else:
            http_ct = b"text/html"
            body = b"\xff\xfe" + text.encode("utf-16-le")
        block = b"HTTP/1.1 200 OK\r\nContent-Type: " + http_ct + b"\r\n\r\n" + body
        recs.append(
            build_record(
                "response",
                f"http://example.com/doc/{r.doc_id}",
                block,
                f"<urn:uuid:cs-{r.doc_id}>",
            )
        )
    with open(os.path.join(out_dir, "pages.warc"), "wb") as fh:
        fh.write(b"".join(recs))
    with open(marker, "w") as fh:
        fh.write("ok")
    return out_dir


def warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC archives -> the flagship extraction pipeline's pages shape
    ``(url, warc_ts, html, text, lang)``: html is the raw response body
    (the kernel does its own boilerplate extraction), ``warc_ts`` parses
    the WARC-Date header (ISO 8601; records without one, or with one that
    does not parse, get null and sort last in the earliest-crawl-wins
    keep-first: ``try_to_timestamp`` never raises, ANSI mode or not),
    text/lang start null exactly as a fresh crawl has them."""
    from pyspark.sql import functions as F

    b = response_bodies(read_warc(spark, path), extra_cols=("warc_date",))
    return b.select(
        F.col("target_uri").alias("url"),
        F.try_to_timestamp(F.col("warc_date")).alias("warc_ts"),
        F.col("body").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# ------------------------------------------------------------------ WET --
#
# CC's extracted-text sibling format: WET files are WARC containers of
# ``conversion`` records whose block IS the extracted UTF-8 text — no
# HTTP framing. Pipelines that trust CC's own extraction start here
# instead of re-extracting from WARC; the reader reuses the exact same
# one-archive-per-task splitter (WET shards are named *.warc.wet(.gz),
# so they are still "the WARC container").


def wet_docs(spark: SparkSession, path: str, glob: str = "*.warc.wet*") -> DataFrame:
    """WET archives -> the curation job's docs shape ``(doc_id, url,
    text, source)``: ``conversion`` records only (warcinfo heads and
    anything else typed away), block cast to string (UTF-8 with U+FFFD
    on damage — same lenient contract as warc_docs), ``doc_id =
    xxhash64(url)`` for stable resume keys. Salvage semantics inherit
    from read_warc: a damaged shard yields its good prefix."""
    from pyspark.sql import functions as F

    recs = read_warc(spark, path, glob)
    return recs.filter(F.col("warc_type") == "conversion").select(
        F.xxhash64("target_uri").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("block").cast("string").alias("text"),
        F.lit("wet").alias("source"),
    )


def synthesize_wet_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic WET shards from the documents table: 2 shards
    striped by doc_id parity — shard 0 per-record-gzip-member (the CC
    wire format), shard 1 plain — each opening with a warcinfo record
    the reader must type away. Same idempotence/cache-key rules as the
    WARC fixture."""
    import gzip
    import os

    from ocr_parallel_spark.kernel.warc_parse import build_record

    key = _fixture_key(sf_dir, b"wet-v1")
    out_dir = f"/tmp/wet_fixture_{key}"
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    shards: list[list[bytes]] = [[], []]
    for r in sorted(rows, key=lambda r: r.doc_id):
        shards[r.doc_id % 2].append(
            build_record(
                "conversion",
                f"http://example.com/doc/{r.doc_id}",
                r.text.encode("utf-8"),
                f"<urn:uuid:wet-{r.doc_id}>",
                content_type="text/plain",
            )
        )
    for i, recs in enumerate(shards):
        info = build_record(
            "warcinfo",
            "",
            b"software: ocr-parallel-spark wet fixture\r\n",
            f"<urn:uuid:wetinfo-{i}>",
            content_type="application/warc-fields",
        )
        if i == 0:
            payload = b"".join(
                gzip.compress(rec, mtime=0) for rec in [info, *recs]
            )
            path = os.path.join(out_dir, f"shard-{i}.warc.wet.gz")
        else:
            payload = b"".join([info, *recs])
            path = os.path.join(out_dir, f"shard-{i}.warc.wet")
        with open(path, "wb") as fh:
            fh.write(payload)
    with open(marker, "w") as fh:
        fh.write("ok")
    return out_dir
