"""``full_process.run_full_process`` against the chain it replaces, built
from the public operators: chunk ranges expanded with ``sequence``, made
distinct, and joined back to the documents on (doc_id, source). Both
must give the same rows for the catalog's targets, for targets with
digit tokens (word-bounded matching in the per-page re-match) and for
the full-process job's domain framing of extracted pages."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_parallel_spark import local_frame
from ocr_parallel_spark import queries_catalog as qc
from ocr_parallel_spark.full_process import run_full_process
from ocr_parallel_spark.operators.boundaries import refine_pages_with_boundaries
from ocr_parallel_spark.operators.chunking import overlap_chunks
from ocr_parallel_spark.operators.localization import (
    expand_variants,
    localize,
    tokenize,
)

MARKERS = (
    qc.BOUNDARY_START_MARKERS,
    qc.BOUNDARY_END_AFTER,
    qc.BOUNDARY_END_BEFORE,
)
TARGET_DDL = "target_id int, tokens array<string>, anchor string"


def _range_join_chain(docs, targets, chunk_size, overlap):
    chunks = overlap_chunks(docs, "source", "doc_id", "norm", chunk_size, overlap)
    loc = localize(
        targets.select("target_id", "tokens"), chunks, "tokens", "chunk_text"
    )
    cand = loc.select(
        "target_id",
        "source",
        F.explode(F.sequence("start_doc_id", "end_doc_id")).alias("doc_id"),
    ).distinct()
    return refine_pages_with_boundaries(
        cand,
        docs.select("doc_id", "source", "norm"),
        targets,
        *MARKERS,
        page_join_cols=["doc_id", "source"],
    )


def _catalog_case(spark, sf_dir):
    docs = qc._docs(spark, sf_dir).select("source", "doc_id", "norm")
    targets = local_frame(
        spark, [(tid, toks, toks[0]) for tid, toks in qc.TARGETS], TARGET_DDL
    )
    return docs, targets, qc.TCHUNK, qc.TOVERLAP


def _digit_case(spark, sf_dir):
    """The corpus holds no digits, so each page gets a bounded number and
    one glued to a letter ('A3' must not hit token '3')."""
    docs = qc._docs(spark, sf_dir).select(
        "source",
        "doc_id",
        F.concat_ws(
            " ",
            "norm",
            (F.col("doc_id") % 13).cast("string"),
            F.concat(F.lit("A"), (F.col("doc_id") % 5).cast("string")),
        ).alias("norm"),
    )
    targets = local_frame(
        spark,
        [
            (1, ["12", "WINDOW"], "12"),
            (2, ["3", "SORT", "JOIN"], "SORT"),
            (3, ["7", "12", "MERGE"], "7"),
            (4, ["4", "STREAM"], "STREAM"),
        ],
        TARGET_DDL,
    )
    return docs, targets, qc.TCHUNK, qc.TOVERLAP


def _job_case(spark, sf_dir, tmp_path):
    """The job's documents: extracted pages framed one document per url
    domain, pages in crawl order; targets from CSV with synonym variants."""
    from ocr_parallel_spark.pages import synthesize_pages
    from ocr_parallel_spark.pipeline import run_extraction_pipeline
    from ocr_parallel_spark.sources.readers import read_targets_csv

    extracted = run_extraction_pipeline(
        synthesize_pages(spark, sf_dir).drop("doc_id"), near_dups=False
    ).filter((F.col("status") == "found") & (~F.col("is_exact_dup")))
    domain = F.regexp_extract(F.col("url"), r"^https?://([^/?#]+)", 1)
    w = Window.partitionBy(domain).orderBy("warc_ts", "url")
    docs = extracted.select(
        domain.alias("source"),
        (F.row_number().over(w) - 1).cast("long").alias("doc_id"),
        F.col("text").alias("norm"),
    ).localCheckpoint()
    csv = tmp_path / "targets.csv"
    csv.write_text(
        "inmueble,folio\ntable query value,TABLE\norder arrange,ORDER\n"
        "stream window,STREAM\n"
    )
    targets = read_targets_csv(spark, str(csv)).select(
        "target_id",
        expand_variants(tokenize("name")).alias("tokens"),
        F.upper(F.trim(F.col("ref"))).alias("anchor"),
    )
    return docs, targets, 8, 2


@pytest.mark.parametrize("case", ["catalog", "digits", "job"])
def test_run_full_process_equals_range_join_chain(spark, sf_dir, tmp_path, case):
    if case == "catalog":
        docs, targets, size, overlap = _catalog_case(spark, sf_dir)
    elif case == "digits":
        docs, targets, size, overlap = _digit_case(spark, sf_dir)
    else:
        docs, targets, size, overlap = _job_case(spark, sf_dir, tmp_path)
    got = run_full_process(docs, targets, *MARKERS, size, overlap)
    want = _range_join_chain(docs, targets, size, overlap)
    assert got.columns == want.columns
    got_rows = sorted(map(tuple, got.collect()), key=repr)
    assert got_rows, "no refined rows: the case exercises nothing"
    assert got_rows == sorted(map(tuple, want.collect()), key=repr)
    assert len({r.method for r in got.collect()}) >= 2


@pytest.mark.parametrize("name", ["full_process", "full_process_capped"])
def test_full_process_pages_stay_in_their_source(spark, sf_dir, name):
    """The catalog's concat entries take a matching chunk's pages from its
    members, so every row's pages belong to its own source (sources
    interleave doc ids, so a chunk's [start, end] id range also covers
    other sources' documents). The F1 text holds no "\\n\\n", so the
    refined text splits back into its pages."""
    docs = qc._docs(spark, sf_dir).select("source", "doc_id", "norm").collect()
    by_source = {}
    for d in docs:
        by_source.setdefault(d.source, []).append(d)
    rows = qc.queries()[name](spark, sf_dir).collect()
    assert rows
    for r in rows:
        own = by_source[r.source]
        texts = r.refined_text.split("\n\n")
        assert r.n_pages == len(texts) <= len(own), (r.target_id, r.source, r.n_pages)
        # the texts are a subsequence of the source's page texts in page
        # order
        own_texts = [d.norm for d in sorted(own, key=lambda d: d.doc_id)]
        it = iter(own_texts)
        assert all(t in it for t in texts), (r.target_id, r.source)
