"""Source readers: schema enforcement, CSV delimiter sniffing (S6)."""

from __future__ import annotations

from ocr_parallel_spark.sources import read_targets_csv
from ocr_parallel_spark.sources.readers import sniff_delimiter


def test_read_targets_csv_sniffs_and_cleans(spark, tmp_path):
    p = tmp_path / "targets.csv"
    p.write_text(
        "Inmueble;FOLIO\n"
        "APARTAMENTO 101;AAA-1\n"
        ";AAA-2\n"          # empty name -> dropped (P3)
        "LOCAL 5;\n"        # empty ref -> dropped
        "GARAJE 9 ; BBB-3 \n"  # whitespace trimmed
    )
    assert sniff_delimiter(spark, str(p)) == ";"
    out = read_targets_csv(spark, str(p))
    rows = {(r.name, r.ref) for r in out.collect()}
    assert rows == {("APARTAMENTO 101", "AAA-1"), ("GARAJE 9", "BBB-3")}
    ids = [r.target_id for r in out.collect()]
    assert len(set(ids)) == len(ids) and all(i >= 0 for i in ids)


def test_read_targets_csv_missing_column_fails_loud(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\n")
    import pytest

    with pytest.raises(ValueError, match="inmueble"):
        read_targets_csv(spark, str(p))


def test_read_embeddings_types(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import _embeddings

    df = _embeddings(spark, sf_dir)
    assert df.schema["embedding"].dataType.simpleString() == "array<float>"
    assert df.count() > 0


# ---------------------------------------------------------------- WARC


def test_warc_parse_length_driven_not_delimiter_scanned():
    """A payload that CONTAINS 'WARC/1.0' (a crawled page about WARC)
    must not split the record — parsing is Content-Length-driven."""
    from ocr_parallel_spark.kernel.warc_parse import build_record, parse_warc_salvage

    evil = b"look: WARC/1.0\r\nWARC-Type: fake\r\n\r\n inside a body"
    data = build_record("response", "http://e/1", evil, "<urn:1>") + build_record(
        "response", "http://e/2", b"second", "<urn:2>"
    )
    recs, err = parse_warc_salvage(data)
    assert err is None
    assert [r["target_uri"] for r in recs] == ["http://e/1", "http://e/2"]
    assert recs[0]["block"] == evil
    assert recs[1]["block"] == b"second"


def test_warc_gunzip_multi_member():
    """CC wire format: one gzip member per record, concatenated — a
    single-pass decompress would stop at the first member."""
    import gzip

    from ocr_parallel_spark.kernel.warc_parse import (
        build_record,
        gunzip_salvage,
        parse_warc_salvage,
    )

    a = build_record("response", "http://e/1", b"alpha", "<urn:1>")
    b = build_record("response", "http://e/2", b"beta", "<urn:2>")
    wire = gzip.compress(a, mtime=0) + gzip.compress(b, mtime=0)
    assert gunzip_salvage(wire) == (a + b, None)
    recs, err = parse_warc_salvage(a + b)
    assert len(recs) == 2 and err is None
    # plain bytes pass through untouched
    assert gunzip_salvage(a) == (a, None)


def test_warc_parse_rejects_truncation():
    from ocr_parallel_spark.kernel.warc_parse import build_record, parse_warc_salvage

    rec = build_record("response", "http://e/1", b"0123456789", "<urn:1>")
    recs, err = parse_warc_salvage(rec[:-8])  # cut inside the block
    assert recs == [] and "truncated" in err
    recs, err = parse_warc_salvage(b"HTTP/1.1 200 OK\r\n\r\n")
    assert recs == [] and "version" in err


def test_warc_http_split_and_reader(spark, sf_dir):
    """End-to-end through the Spark reader: warcinfo records are typed,
    response bodies survive byte-exactly (incl. through the gzip
    shard), HTTP status framing splits off."""
    from ocr_parallel_spark.kernel.warc_parse import split_http_response
    from ocr_parallel_spark.sources.warc import read_warc, synthesize_warc_fixture

    fixture = synthesize_warc_fixture(spark, sf_dir)
    recs = read_warc(spark, fixture).cache()
    try:
        by_type = {
            r["warc_type"]: r["n"]
            for r in recs.groupBy("warc_type").count().withColumnRenamed("count", "n").collect()
        }
        assert by_type["warcinfo"] == 4
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert by_type["response"] == n_docs
        # gz shard contributes (all four paths present)
        paths = {r.path.rsplit("/", 1)[-1] for r in recs.select("path").distinct().collect()}
        assert paths == {"shard-0.warc.gz", "shard-1.warc", "shard-2.warc", "shard-3.warc"}
        one = recs.filter("target_uri = 'http://example.com/doc/7'").collect()[0]
        status, body = split_http_response(bytes(one.block))
        assert status == "HTTP/1.1 200 OK"
        expected = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("doc_id = 7")
            .collect()[0]
            .text
        )
        assert body == expected.encode("utf-8")
    finally:
        recs.unpersist()


def test_warc_split_http_no_blank_line():
    from ocr_parallel_spark.kernel.warc_parse import split_http_response

    status, body = split_http_response(b"HTTP/1.1 204 No Content\r\nX: y\r\n")
    assert status == "HTTP/1.1 204 No Content" and body == b""


def test_warc_error_as_data(spark, tmp_path):
    """A truncated archive must become an '_error' row — not a task
    failure that kills the job — while sibling archives parse normally
    (the X7 error-as-data contract, ADVICE round 3). The error row
    lands at the failed record's index (0 here: the file is corrupt
    from its only record)."""
    from ocr_parallel_spark.kernel.warc_parse import build_record
    from ocr_parallel_spark.sources.warc import read_warc, warc_docs

    good = build_record(
        "response", "http://e/1", b"HTTP/1.1 200 OK\r\n\r\nok", "<urn:1>"
    )
    (tmp_path / "good.warc").write_bytes(good)
    (tmp_path / "bad.warc").write_bytes(good[:-10])  # cut inside the block
    rows = read_warc(spark, str(tmp_path)).collect()
    errs = [r for r in rows if r.warc_type == "_error"]
    assert len(errs) == 1
    assert errs[0].path.endswith("bad.warc")
    assert errs[0].record_idx == 0
    assert "truncated" in errs[0].error
    ok = [r for r in rows if r.warc_type == "response"]
    assert len(ok) == 1 and ok[0].error is None
    # downstream consumers see only the parsed records
    docs = warc_docs(spark, str(tmp_path)).collect()
    assert len(docs) == 1 and docs[0].text == "ok"


def test_warc_salvages_good_prefix(spark, tmp_path):
    """An archive whose LAST record is corrupt must still yield every
    record before it, plus ONE error row at the failure index — a
    damaged tail costs the corrupt region, not the whole archive
    (VERDICT r4 #4)."""
    from ocr_parallel_spark.kernel.warc_parse import build_record
    from ocr_parallel_spark.sources.warc import read_warc, warc_docs

    recs = [
        build_record(
            "response",
            f"http://e/{i}",
            b"HTTP/1.1 200 OK\r\n\r\n" + f"page {i}".encode(),
            f"<urn:{i}>",
        )
        for i in range(5)
    ]
    (tmp_path / "tail.warc").write_bytes(b"".join(recs[:4]) + recs[4][:-10])
    rows = sorted(read_warc(spark, str(tmp_path)).collect(), key=lambda r: r.record_idx)
    assert [r.warc_type for r in rows] == ["response"] * 4 + ["_error"]
    assert rows[-1].record_idx == 4 and "truncated" in rows[-1].error
    docs = sorted(warc_docs(spark, str(tmp_path)).collect(), key=lambda r: r.url)
    assert [d.text for d in docs] == [f"page {i}" for i in range(4)]


def test_warc_gz_salvages_complete_members(spark, tmp_path):
    """A .warc.gz whose tail member is truncated (or followed by junk)
    must still yield the records from every complete member, with the
    error row reporting the gzip cause."""
    import gzip

    from ocr_parallel_spark.kernel.warc_parse import build_record
    from ocr_parallel_spark.sources.warc import read_warc

    recs = [
        build_record(
            "response",
            f"http://e/{i}",
            b"HTTP/1.1 200 OK\r\n\r\n" + f"page {i}".encode(),
            f"<urn:{i}>",
        )
        for i in range(3)
    ]
    members = [gzip.compress(r, mtime=0) for r in recs]
    (tmp_path / "trunc.warc.gz").write_bytes(
        members[0] + members[1] + members[2][: len(members[2]) // 2]
    )
    rows = sorted(
        read_warc(spark, str(tmp_path)).collect(), key=lambda r: r.record_idx
    )
    assert [r.warc_type for r in rows] == ["response", "response", "_error"]
    assert rows[-1].record_idx == 2
    assert "gzip" in rows[-1].error


def test_gunzip_salvage_kernel():
    """gunzip_salvage keeps complete members' bytes on a damaged tail
    and reports the damage."""
    import gzip

    from ocr_parallel_spark.kernel.warc_parse import gunzip_salvage

    member = gzip.compress(b"payload", mtime=0)
    assert gunzip_salvage(member + member) == (b"payloadpayload", None)
    assert gunzip_salvage(b"plain") == (b"plain", None)
    out, err = gunzip_salvage(member + b"JUNKJUNK")
    assert out == b"payload" and "trailing" in err
    out, err = gunzip_salvage(member + member[:-4])
    assert out.startswith(b"payload") and err and ("truncated" in err or "corrupt" in err)


def test_maybe_gunzip_rejects_corrupt_tails():
    """Trailing non-gzip bytes or a truncated member must be reported
    (and so become an error row via read_warc), never silently drop
    records; an all-NUL tail is padding, not damage. The strict
    raising twin is gone: gunzip_salvage is the decoder read_warc runs."""
    import gzip

    from ocr_parallel_spark.kernel.warc_parse import gunzip_salvage

    member = gzip.compress(b"payload", mtime=0)
    # all-NUL tail = benign block-alignment padding, records preserved
    assert gunzip_salvage(member + b"\x00" * 512) == (b"payload", None)
    out, err = gunzip_salvage(member + b"\x00" * 8 + b"X")
    assert out == b"payload" and "trailing" in err
    out, err = gunzip_salvage(member[:-4])
    assert err and ("truncated" in err or "corrupt" in err)


def test_warc_docs_survives_malformed_utf8(spark, tmp_path):
    """A crawl page with invalid UTF-8 bytes must become U+FFFD text,
    not a MALFORMED_CHARACTER_CODING job kill (decode() would raise;
    warc_docs must use the lenient cast)."""
    from ocr_parallel_spark.kernel.warc_parse import build_record
    from ocr_parallel_spark.sources.warc import warc_docs

    block = b"HTTP/1.1 200 OK\r\n\r\nok \xff\xfe bad"
    p = tmp_path / "bad.warc"
    p.write_bytes(build_record("response", "http://e/é", block, "<urn:1>"))
    rows = warc_docs(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].text == "ok �� bad"
    assert rows[0].url == "http://e/é"  # IRI survives the writer too


def test_charset_sniff_precedence_and_fallback():
    from ocr_parallel_spark.kernel.warc_parse import sniff_and_decode

    # BOM beats an (incorrect) header declaration
    cs, t = sniff_and_decode(
        b"\xef\xbb\xbf" + "café".encode("utf-8"), "text/html; charset=iso-8859-1"
    )
    assert (cs, t) == ("utf-8-sig", "café")
    # header beats a conflicting meta tag
    cs, t = sniff_and_decode(
        '<meta charset="utf-8"> café'.encode("iso-8859-1"),
        "text/html; charset=iso-8859-1",
    )
    assert cs == "iso-8859-1" and t.endswith("café")
    # meta applies when the header is silent
    cs, t = sniff_and_decode('<meta charset="iso-8859-1"> café'.encode("iso-8859-1"), "text/html")
    assert cs == "iso-8859-1" and t.endswith("café")
    # utf-16-be BOM
    cs, t = sniff_and_decode(b"\xfe\xff" + "Ω".encode("utf-16-be"), "")
    assert (cs, t) == ("utf-16-be", "Ω")
    # unknown label falls back to utf-8, never raises
    cs, t = sniff_and_decode("café".encode("utf-8"), "text/html; charset=klingon-8")
    assert (cs, t) == ("utf-8", "café")
    # mislabeled page yields replacement chars, never raises
    cs, t = sniff_and_decode("中文".encode("utf-8"), "text/html; charset=ascii")
    assert cs == "ascii" and "�" in t


def test_warc_charset_query_covers_all_modes(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_warc_charset

    out = q_warc_charset(spark, sf_dir)
    by_cs = {r["charset"]: r["n"] for r in out.groupBy("charset").count().withColumnRenamed("count", "n").collect()}
    assert set(by_cs) == {"utf-8", "iso-8859-1", "utf-8-sig", "utf-16-le"}
    assert all(v > 0 for v in by_cs.values())


def test_warc_pages_feed_extraction_pipeline(spark, sf_dir):
    """job_extract --input-format warc: WARC archives adapt to the
    flagship pages shape (WARC-Date -> warc_ts) and run through the
    full extraction pipeline."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.pipeline import run_extraction_pipeline
    from ocr_parallel_spark.sources.warc import synthesize_warc_fixture, warc_pages

    fixture = synthesize_warc_fixture(spark, sf_dir)
    pages = warc_pages(spark, fixture)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert pages.count() == n_docs
    assert pages.filter(F.col("warc_ts").isNull()).count() == 0
    out = run_extraction_pipeline(pages, near_dups=False)
    rows = out.select("url", "status", "text").collect()
    assert len(rows) == n_docs
    assert all(r.status in ("found", "not_found", "error") for r in rows)
    # the synthetic bodies are plain text -> kernel output is non-empty
    assert sum(1 for r in rows if r.text) > 0


def test_warc_pages_undated_or_bad_date_is_null(spark, tmp_path):
    """A record without a WARC-Date, or with one that does not parse,
    gets a NULL warc_ts under the session's ANSI mode instead of failing
    the whole read; a dated record still parses."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_parallel_spark.kernel.warc_parse import build_record
    from ocr_parallel_spark.sources.warc import warc_pages

    body = b"HTTP/1.1 200 OK\r\n\r\n<p>ok</p>"
    (tmp_path / "mixed.warc").write_bytes(
        build_record("response", "http://e/undated", body, "<urn:1>")
        + build_record(
            "response", "http://e/bad", body, "<urn:2>", warc_date="not-a-date"
        )
        + build_record(
            "response", "http://e/dated", body, "<urn:3>",
            warc_date="2026-01-05T00:00:00Z",
        )
    )
    pages = warc_pages(spark, str(tmp_path))
    got = {
        r.url: r.epoch_s
        for r in pages.select("url", F.col("warc_ts").cast("long").alias("epoch_s")).collect()
    }
    dated = datetime.datetime(2026, 1, 5, tzinfo=datetime.timezone.utc)
    assert got == {
        "http://e/undated": None,
        "http://e/bad": None,
        "http://e/dated": int(dated.timestamp()),
    }


def test_warc_docs_sniff_charset_mode(spark, sf_dir):
    """warc_docs(sniff_charset=True) over the charset fixture decodes
    every stripe correctly (the UTF-8-assuming cast path would mangle
    the latin-1 and UTF-16 stripes)."""
    from ocr_parallel_spark.sources.warc import (
        synthesize_charset_fixture,
        warc_docs,
    )

    fixture = synthesize_charset_fixture(spark, sf_dir)
    docs = warc_docs(spark, fixture, sniff_charset=True)
    got = {r.url: r.text for r in docs.collect()}
    orig = {
        f"http://example.com/doc/{r.doc_id}": (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    from ocr_parallel_spark.sources.warc import CHARSET_SUFFIXES

    assert len(got) == len(orig)
    for url, (doc_id, text) in orig.items():
        mode = doc_id % 4
        expected = text + CHARSET_SUFFIXES[mode]
        if mode == 1:
            expected = '<meta charset="iso-8859-1"> ' + expected
        assert got[url] == expected, (url, mode)


def test_wet_docs_round_trip(spark, sf_dir):
    """WET shards (conversion records, no HTTP framing) -> curation docs
    shape with byte-exact text; warcinfo heads typed away; stable
    xxhash64(url) keys."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.sources.warc import (
        synthesize_wet_fixture,
        wet_docs,
    )

    fixture = synthesize_wet_fixture(spark, sf_dir)
    got = {r.url: r for r in wet_docs(spark, fixture).collect()}
    src = {
        f"http://example.com/doc/{r.doc_id}": r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert set(got) == set(src)
    for url, text in src.items():
        assert got[url].text == text
        assert got[url].source == "wet"
    ids = [r.doc_id for r in got.values()]
    assert len(set(ids)) == len(ids)  # hash keys collision-free here
