"""Sequence-packing batch job: kept-doc filter, snapshot commit, and
resume with OFFSET CONTINUATION (each run's stream starts at the
committed stream end)."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable

_spec = importlib.util.spec_from_file_location(
    "job_pack",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "job_pack.py",
)
job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job)


def _run(spark, docs, table, window_tokens=512):
    base = job.committed_base_offsets(spark, table)
    return run_resumable(
        docs,
        table,
        spark,
        lambda todo: job.build_output(spark, todo, window_tokens, base),
        key_col="doc_id",
    )


def test_incremental_pack_equals_batch_pack(spark, sf_dir, tmp_path):
    """Two incremental runs (first half, then the rest) must commit the
    EXACT per-doc offsets one batch q_sequence_pack run gives — each
    source's second-run stream continues at the committed stream end."""
    from ocr_parallel_spark.queries_catalog import PACK_WINDOW, q_sequence_pack

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    table = SnapshotTable(str(tmp_path / "packs"))
    snap1 = _run(spark, docs.filter(F.col("doc_id") < 250), table, PACK_WINDOW)
    assert snap1["lineage"]["rows_written"] == 250
    snap2 = _run(spark, docs, table, PACK_WINDOW)
    assert snap2["lineage"]["rows_written"] == docs.count() - 250

    got = {
        r.doc_id: (r.n_tokens, r.tok_offset, r.win_start, r.win_end, r.is_split)
        for r in table.read(spark).collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.tok_offset, r.win_start, r.win_end, r.is_split)
        for r in q_sequence_pack(spark, sf_dir).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want

    # third run over the same input: true no-op
    snap3 = _run(spark, docs, table, PACK_WINDOW)
    assert snap3.get("noop") is True


def test_pack_respects_kept_verdicts(spark, tmp_path):
    """The --verdicts semi-join: only kept docs pack, and offsets are
    contiguous over the kept subset (dropped docs leave no hole)."""
    docs = spark.createDataFrame(
        [(i, "s", "one two three four") for i in range(6)],
        "doc_id long, source string, text string",
    )
    verdicts = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(6)], "doc_id long, kept boolean"
    )
    kept_docs = docs.join(
        verdicts.filter("kept").select("doc_id"), "doc_id", "semi"
    )
    table = SnapshotTable(str(tmp_path / "packs"))
    _run(spark, kept_docs, table, window_tokens=6)
    rows = sorted(table.read(spark).collect(), key=lambda r: r.doc_id)
    assert [r.doc_id for r in rows] == [0, 2, 4]
    assert [r.tok_offset for r in rows] == [0, 4, 8]
    # doc 2 spans tokens 4..7 across the 6-token window boundary
    assert [r.is_split for r in rows] == [False, True, False]


def test_pack_from_curated_corpus_chain(spark, tmp_path):
    """The curate -> pack chain over the verdicts table itself: job_curate
    emits kept docs' cleaned text (kept_text) + source, job_pack's
    --from-verdicts mode packs exactly those docs with token counts
    computed from the CLEANED text (boilerplate lines gone), no second
    read of the raw corpus."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "job_curate_for_pack",
        pathlib.Path(__file__).resolve().parent.parent / "scripts" / "job_curate.py",
    )
    curate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(curate)

    body = "plenty of unique content words here for the screen " * 4
    docs = spark.createDataFrame(
        [
            (i, f"https://h{i}.org/x", f"COOKIE BANNER SHARED LINE\n{body}tail{i}", "en", "s")
            for i in range(6)
        ]
        + [(9, "https://h9.org/x", "tiny", "en", "s")],  # screened out
        "doc_id long, url string, text string, lang string, source string",
    )
    vtable = SnapshotTable(str(tmp_path / "verdicts"))
    run_resumable(
        docs, vtable, spark,
        lambda todo: curate.build_output(spark, todo, None, None),
        key_col="doc_id",
    )
    verdicts = vtable.read(spark)
    kept = verdicts.filter("kept")
    assert kept.count() == 6  # banner (6 >= min_count 5) stripped, content kept
    assert kept.filter(F.col("kept_text").contains("COOKIE BANNER")).count() == 0
    assert verdicts.filter("NOT kept").filter(
        F.col("kept_text").isNotNull()
    ).count() == 0  # dropped docs carry no text bytes

    curated = kept.select("doc_id", "source", F.col("kept_text").alias("text"))
    ptable = SnapshotTable(str(tmp_path / "packs"))
    _run(spark, curated, ptable, window_tokens=64)
    packed = {r.doc_id: r for r in ptable.read(spark).collect()}
    assert set(packed) == {0, 1, 2, 3, 4, 5}
    for r in kept.collect():
        # token counts come from the CLEANED text
        assert packed[r.doc_id].n_tokens == len(r.kept_text.split(" "))


def test_pack_write_shards(spark, sf_dir, tmp_path):
    """--shards terminal step: every committed window lands in exactly
    one shard dir, positions are dense per shard, and a re-run at the
    same committed state overwrites with the identical assignment."""
    from ocr_parallel_spark.operators.chunking import shard_shuffle
    from ocr_parallel_spark.queries_catalog import PACK_WINDOW

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    table = SnapshotTable(str(tmp_path / "packs"))
    _run(spark, docs, table, PACK_WINDOW)
    out = str(tmp_path / "shards")
    job.write_shards(spark, table, 4, out)

    manifest = table.read(spark)
    windows = manifest.select(
        "source", F.explode(F.sequence("win_start", "win_end")).alias("win_id")
    ).distinct()
    want = {
        (r.source, r.win_id): (r.shard_id, r.shard_pos)
        for r in shard_shuffle(windows, 4).collect()
    }
    got = {
        (r.source, r.win_id): (r.shard_id, r.shard_pos)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want and len(got) > 0
    # partitioned layout: one dir per present shard_id
    dirs = sorted(
        p.name for p in (tmp_path / "shards").iterdir()
        if p.name.startswith("shard_id=")
    )
    assert dirs == sorted(
        f"shard_id={s}" for s in {v[0] for v in want.values()}
    )
    # dense 0..n-1 positions within each shard dir
    for d in dirs:
        pos = sorted(
            r.shard_pos for r in spark.read.parquet(f"{out}/{d}").collect()
        )
        assert pos == list(range(len(pos)))
    # overwrite re-run: identical
    job.write_shards(spark, table, 4, out)
    again = {
        (r.source, r.win_id): (r.shard_id, r.shard_pos)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


@pytest.mark.parametrize(
    "argv, message",
    [
        ([], "exactly one of --input / --from-verdicts required"),
        (["--input", "d", "--from-verdicts", "v"],
         "exactly one of --input / --from-verdicts required"),
        (["--input", "d", "--verdicts-since", "3"],
         "--verdicts-since requires --from-verdicts"),
    ],
)
def test_bad_arguments_fail_before_spark_starts(argv, message, monkeypatch):
    def no_spark(self):
        raise AssertionError("Spark started before the arguments were checked")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    monkeypatch.setattr(sys, "argv", ["job_pack.py", "--output", "o", *argv])
    with pytest.raises(SystemExit, match=message):
        job.main()
