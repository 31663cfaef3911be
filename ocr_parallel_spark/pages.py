"""Deterministic synthesis of the Common-Crawl-style pages table.

BASELINE.json ``input_hint`` fixes the input shape:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
No external data exists in the sandbox, so the table is synthesized — with
built-in column expressions only (JVM-side, seedless-deterministic) — from
the driver's ``documents`` parquet, following the FIXTURES.md §1 recipe:

- Zipf-ish domain skew: ~40% of rows land on one hot domain (exercises the
  north_rule salting/AQE path).
- ~10% exact url duplicates (keep-first dedup D2).
- ~5% content duplicates: distinct url, identical post-extraction text
  (sha-256 exact content dedup D4).
- ~4% near duplicates: small token edits (SimHash marking).
- ~2.5% pdf-layout payloads (the kernel's second decode path).
- ~2% malformed payloads -> status='error' rows (X7 error-as-data).

``expected_text`` (what the kernel must produce, byte-identical) is computed
with the same built-in normalization chain the engine uses, so the pipeline
invariant test is synthesis-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_parallel_spark.fanout import fan_out
from ocr_parallel_spark.operators.classify import normalize_col
from ocr_parallel_spark.sources.readers import DOCUMENTS_SCHEMA

HOT_DOMAIN = "hot.example.com"

_CHROME_NAV = (
    "<nav><ul><li><a href='/'>Home</a></li><li><a href='/tags'>Tags</a></li>"
    "<li><a href='/about'>About</a></li></ul></nav>"
    "<header><h1>Site Banner</h1><p>slogan words here</p></header>"
)
_CHROME_FOOT = (
    "<footer><p>Copyright 2026 Example. All rights reserved.</p></footer>"
    "<aside><p>Promoted stories you may also like reading today</p></aside>"
)
_LINKFARM = (
    "<div><a href='/x1'>cheap deals now</a> <a href='/x2'>best offers "
    "today</a> <a href='/x3'>click here fast</a></div>"
)


def synthesize_pages(
    spark: SparkSession,
    sf_dir: str,
    with_expected: bool = False,
    copies: int = 1,
    body_repeat: int = 1,
) -> DataFrame:
    """Build the pages DataFrame from ``{sf_dir}/documents.parquet``.

    Pure built-in expressions end-to-end: one parquet scan, one broadcast
    self-join (content-dup text borrowing), zero Python.

    ``copies > 1`` deterministically replicates the corpus (distinct
    doc_ids, slightly varied text) so bench runs can be compute-dominated
    at any sf — the sandbox stand-in for reading a bigger table.
    ``body_repeat > 1`` expands each page's body into that many paragraph
    blocks (~300 chars each), approximating real Common-Crawl page sizes so
    the extraction kernel, not stage overhead, dominates the run.
    ``body_repeat=1`` reproduces the original single-paragraph pages
    byte-for-byte.
    """
    # Fan the raw scan out BEFORE the synthesis join: the kernel and
    # link-extraction consumers pipeline onto these partitions, and the
    # probe is free on a bare scan (round 6; fan_out skips non-scan
    # plans, so callers can no longer fan the synthesized frame itself).
    docs = fan_out(
        spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")
    )
    if copies > 1:
        reps = spark.range(copies).select(F.col("id").alias("copy_id"))
        docs = (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * copies + F.col("copy_id")).alias("doc_id"),
                F.when(
                    F.col("copy_id") == 0, F.col("text")
                ).otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" replica "),
                        F.col("copy_id").cast("string"),
                    )
                ).alias("text"),
                F.col("lang"),
            )
        )

    # Content/near-dup rows borrow the *previous* doc's text via an
    # equi-join on doc_id-1 (broadcast-eligible at test scale; at real
    # scale synthesis does not exist — the table is read, not built).
    prev = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    d = docs.join(prev, "doc_id", "left")

    is_url_dup = F.col("doc_id") % 10 == 9
    is_content_dup = (F.col("doc_id") % 20 == 13) & F.col("prev_text").isNotNull()
    is_near_dup = (F.col("doc_id") % 25 == 21) & F.col("prev_text").isNotNull()
    is_error = F.col("doc_id") % 50 == 7
    is_pdf = (F.col("doc_id") % 40 == 11) & ~is_error
    is_real_pdf = (F.col("doc_id") % 40 == 31) & ~is_error

    # Which doc's content this row carries (url dups keep their own text —
    # they duplicate the *key*; content dups duplicate the *text*).
    content_id = (
        F.when(is_content_dup | is_near_dup, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
    )
    body_text = (
        F.when(is_content_dup, F.col("prev_text"))
        .when(is_near_dup, F.concat(F.col("prev_text"), F.lit(" drift tail token")))
        .otherwise(F.col("text"))
    )

    # Url: ~40% of rows on one hot domain; url dups reuse an earlier url.
    url_id = F.when(is_url_dup, F.col("doc_id") - 9).otherwise(F.col("doc_id"))
    domain = F.when(url_id % 5 < 2, F.lit(HOT_DOMAIN)).otherwise(
        F.concat(F.lit("site-"), (url_id % 97).cast("string"), F.lit(".example.com"))
    )
    url = F.concat(F.lit("https://"), domain, F.lit("/page/"), url_id.cast("string"))

    heading = F.concat(F.lit("Document number "), content_id.cast("string"))

    # Paragraph k=0 is the bare body (byte-compatible with body_repeat=1);
    # later paragraphs get a deterministic suffix so blocks stay distinct.
    paras = [body_text] + [
        F.concat(body_text, F.lit(f" pp {k}")) for k in range(1, body_repeat)
    ]

    variant = F.col("doc_id") % 3
    body_html_parts = []
    for p in paras:
        body_html_parts += [F.lit("<p>"), p, F.lit("</p>")]
    html_str = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>t</title></head><body>"),
        F.when(variant == 1, F.lit(_CHROME_NAV)).otherwise(F.lit("")),
        F.when(variant == 2, F.lit(_LINKFARM)).otherwise(F.lit("")),
        F.lit("<article><h2>"),
        heading,
        F.lit("</h2>"),
        *body_html_parts,
        F.lit("</article>"),
        F.when(variant == 1, F.lit(_CHROME_FOOT)).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )

    # Escape text before embedding in structured payloads: the kernel's
    # json.loads / PDF-literal decoder unescapes these back, so the
    # roundtrip stays byte-identical even if the corpus ever grows
    # backslashes, quotes, or parens (today it has none — this guards
    # against a silent datagen change corrupting expected_text).
    def _json_escape(c):
        return F.regexp_replace(
            F.regexp_replace(c, r"\\", r"\\\\"), r'"', r'\\"'
        )

    def _pdf_escape(c):
        return F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(c, r"\\", r"\\\\"), r"\(", r"\\("
            ),
            r"\)",
            r"\\)",
        )

    pdf_run_parts = []
    for k, p in enumerate(paras):
        pdf_run_parts += [
            F.lit(
                '{"page": 1, "x": 10.0, "y": %s.0, "text": "' % (20 + 10 * k)
            ),
            _json_escape(p),
            F.lit('"}, '),
        ]
    pdf_payload = F.concat(
        F.lit('%FAKEPDF{"runs": ['),
        *pdf_run_parts,
        F.lit('{"page": 1, "x": 5.0, "y": 10.0, "text": "'),
        _json_escape(heading),
        F.lit('"}]}'),
    )

    # Real %PDF flavor: an UNCOMPRESSED pdf is plain text, so a structurally
    # valid document (catalog/pages/page/contents objects, BT..ET text
    # operators) is expressible as pure concat — the kernel's pdf_parse path
    # gets exercised by synthesis with zero Python. Same reading order as
    # the %FAKEPDF flavor: heading on the top line, paragraphs below.
    real_pdf_text_ops = [
        F.lit("BT 72 760 Td ("),
        _pdf_escape(heading),
        F.lit(") Tj "),
    ]
    for k, p in enumerate(paras):
        real_pdf_text_ops += [F.lit("0 -12 Td ("), _pdf_escape(p), F.lit(") Tj ")]
    real_pdf_stream = F.concat(*real_pdf_text_ops, F.lit("ET"))
    real_pdf_payload = F.concat(
        F.lit(
            "%PDF-1.4\n"
            "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            "4 0 obj\n<< >>\nstream\n"
        ),
        real_pdf_stream,
        F.lit("\nendstream\nendobj\n%%EOF\n"),
    )

    html = (
        F.when(is_error, F.unhex(F.lit("FFFE80009F")))  # invalid utf-8 + NUL
        .when(is_pdf, pdf_payload.cast("binary"))
        .when(is_real_pdf, real_pdf_payload.cast("binary"))
        .otherwise(html_str.cast("binary"))
    )

    warc_ts = F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(
        secs=F.col("doc_id").cast("double")
    )

    cols = [
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        F.lit("").alias("text"),  # pre-extracted CC column; engine recomputes
        F.col("lang"),
        F.col("doc_id"),
    ]
    if with_expected:
        para_norms = [normalize_col(p) for p in paras]
        head_norm = normalize_col(heading)
        # pdf path: all runs are on one page; layout lines are flattened by
        # the per-page normalization chain, so heading and paragraphs join
        # with single spaces. html path: blocks join with "\n\n".
        expected = (
            F.when(is_error, F.lit(None).cast("string"))
            .when(is_pdf | is_real_pdf, F.concat_ws(" ", head_norm, *para_norms))
            .otherwise(F.concat_ws("\n\n", head_norm, *para_norms))
        )
        cols.append(expected.alias("expected_text"))
    return d.select(*cols)
