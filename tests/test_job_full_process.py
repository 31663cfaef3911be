"""End-to-end test of the §3.3 full-process job composition: pages ->
extraction -> domain framing -> chunk -> localize (CSV targets with
synonym variants) -> boundary refinement -> snapshot commit + resume."""

from __future__ import annotations

import importlib.util
import pathlib

from pyspark.sql import functions as F

from ocr_parallel_spark.io.snapshot import SnapshotTable
from ocr_parallel_spark.pages import synthesize_pages

_spec = importlib.util.spec_from_file_location(
    "job_full_process",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "job_full_process.py",
)
job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job)


def test_full_process_job_end_to_end(spark, sf_dir, tmp_path):
    targets_csv = tmp_path / "targets.csv"
    targets_csv.write_text(
        "inmueble,folio\n"
        "table query value,TABLE\n"
        "order arrange,ORDER\n"   # matches only via synonym expansion
        "zzznope qqqmiss,ZZZ\n"   # never matches
    )
    pages = synthesize_pages(spark, sf_dir).drop("doc_id")
    out = job.build_output(
        spark,
        pages,
        str(targets_csv),
        chunk_size=8,
        overlap=2,
        start_markers=["STREAM WINDOW", "LINE SORT"],
        end_after=["AGG QUERY", "BATCH TABLE"],
        end_before=["SLOW FILTER"],
    )
    table = SnapshotTable(str(tmp_path / "results"))
    rows = out.collect()
    assert rows, "no (target, document) results produced"
    methods = {r.method for r in rows}
    assert methods <= {"boundaries", "expanded", "fallback_first5"}
    # every result keyed and page-capped
    for r in rows:
        assert r.job_key == f"{r.target_id}#{r.source}"
        assert 0 < r.n_pages <= 20

    snap1 = table.append(out, lineage={"targets": str(targets_csv)})
    assert snap1["ordinal"] == 0

    # resume: all (target, source) pairs committed -> the committed=
    # anti-join inside build_output drops them BEFORE refinement, so a
    # second build produces nothing
    remaining = job.build_output(
        spark,
        pages,
        str(targets_csv),
        chunk_size=8,
        overlap=2,
        start_markers=["STREAM WINDOW", "LINE SORT"],
        end_after=["AGG QUERY", "BATCH TABLE"],
        end_before=["SLOW FILTER"],
        committed=table.read(spark),
    )
    assert remaining.count() == 0


def test_full_process_main_commits_counted_and_resumes(spark, sf_dir, tmp_path):
    """main() commits through commit_counted: rows_written is the number
    of committed rows, and a rerun over the same input commits nothing."""
    pages_dir = str(tmp_path / "pages")
    synthesize_pages(spark, sf_dir).drop("doc_id").write.parquet(pages_dir)
    targets_csv = tmp_path / "targets.csv"
    targets_csv.write_text(
        "inmueble,folio\ntable query value,TABLE\norder arrange,ORDER\n"
    )
    out = tmp_path / "results"
    argv = ["--input", pages_dir, "--targets", str(targets_csv),
            "--output", str(out), "--chunk-size", "8", "--overlap", "2",
            "--start-marker", "STREAM WINDOW", "--end-after-marker", "AGG QUERY",
            "--end-before-marker", "SLOW FILTER"]
    old_stop = type(spark).stop
    type(spark).stop = lambda self: None  # the job's session is the suite's
    try:
        snap1 = job.main(argv)
        current = (out / "_manifests" / "CURRENT").read_text()
        snap2 = job.main(argv)
    finally:
        type(spark).stop = old_stop
    table = SnapshotTable(str(out))
    n = table.read(spark).count()
    assert snap1["ordinal"] == 0 and not snap1.get("noop")
    assert snap1["lineage"]["rows_written"] == n > 0
    assert snap1["lineage"]["targets"] == str(targets_csv)
    assert snap2["noop"] is True and snap2["ordinal"] == 0
    assert (out / "_manifests" / "CURRENT").read_text() == current
    assert list((out / "data").iterdir()) == [out / "data" / "run-000000"]
