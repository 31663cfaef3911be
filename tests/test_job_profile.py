"""The session profile, ``config.SESSION_CONFS``: the conftest session and
every submitted job run under it, and it sizes job_extract's shuffles to
the data without changing its output."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_parallel_spark.config import SESSION_CONFS
from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable
from ocr_parallel_spark.pages import synthesize_pages
from ocr_parallel_spark.pipeline import run_extraction_pipeline


def test_session_runs_the_profile(spark):
    assert all(k.startswith("spark.sql.") for k, _ in SESSION_CONFS)
    assert {k: spark.conf.get(k) for k, _ in SESSION_CONFS} == dict(SESSION_CONFS)
    # unset, as under spark-submit: AQE sizes each shuffle to the data
    assert spark.conf.get("spark.sql.shuffle.partitions") == "200"


def test_job_profile_sizes_extract_output(spark, sf_dir, tmp_path):
    pages = synthesize_pages(spark, sf_dir, with_expected=True)
    expected = {
        r.url: r.expected_text
        for r in pages.groupBy("url")
        .agg(F.min_by("expected_text", "warc_ts").alias("expected_text"))
        .collect()
    }
    table = SnapshotTable(str(tmp_path / "out"))
    snap = run_resumable(
        pages.drop("expected_text", "doc_id"),
        table,
        spark,
        lambda todo: run_extraction_pipeline(todo, near_dups=True),
        key_col="url",
    )
    # later plans in the session must not reuse the job's persisted frames
    spark.catalog.clearCache()

    rows = {
        r.url: (r.status, r.text)
        for r in table.read(spark).select("url", "status", "text").collect()
    }
    assert snap["lineage"]["rows_written"] == len(rows) == len(expected)
    for url, text in expected.items():
        status, got = rows[url]
        if text is None:  # a planted error payload
            assert status == "error" and got is None, url
        else:
            assert status != "error" and got == text, url
    run_dir = table.root / snap["data_dirs"][-1]
    parts = list(run_dir.glob("part-*.parquet"))
    assert 1 <= len(parts) <= 2 * spark.sparkContext.defaultParallelism
