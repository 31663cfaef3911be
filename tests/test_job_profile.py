"""The submitted job profile: ``scripts/submit.py``'s ``--conf`` set
sizes job_extract's shuffles to the data without changing its output."""

from __future__ import annotations

import contextlib
import importlib.util
import pathlib

from pyspark.sql import functions as F

from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable
from ocr_parallel_spark.pages import synthesize_pages
from ocr_parallel_spark.pipeline import run_extraction_pipeline

_spec = importlib.util.spec_from_file_location(
    "submit",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "submit.py",
)
submit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(submit)

# spark-submit leaves this at Spark's default (200); the test session pins it.
_SHUFFLE = "spark.sql.shuffle.partitions"
_KEYS = [k for k, _ in submit.JOB_CONFS] + [_SHUFFLE]


@contextlib.contextmanager
def job_profile(spark):
    """Apply the job confs at runtime, as spark-submit would see them,
    and restore the session's own values on exit. Frames the job
    persisted under the profile are dropped too, so later plans in the
    session never reuse them."""
    saved = {k: spark.conf.get(k, None) for k in _KEYS}
    try:
        spark.conf.unset(_SHUFFLE)
        for k, v in submit.JOB_CONFS:
            spark.conf.set(k, v)
        yield
    finally:
        spark.catalog.clearCache()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_job_profile_sizes_extract_output(spark, sf_dir, tmp_path):
    assert all(k.startswith("spark.sql.") for k, _ in submit.JOB_CONFS)
    before = {k: spark.conf.get(k, None) for k in _KEYS}
    pages = synthesize_pages(spark, sf_dir, with_expected=True)
    expected = {
        r.url: r.expected_text
        for r in pages.groupBy("url")
        .agg(F.min_by("expected_text", "warc_ts").alias("expected_text"))
        .collect()
    }
    table = SnapshotTable(str(tmp_path / "out"))
    with job_profile(spark):
        snap = run_resumable(
            pages.drop("expected_text", "doc_id"),
            table,
            spark,
            lambda todo: run_extraction_pipeline(todo, near_dups=True),
            key_col="url",
        )
    assert {k: spark.conf.get(k, None) for k in _KEYS} == before

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
