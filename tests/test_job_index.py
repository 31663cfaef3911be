"""ANN index build/maintain job: incremental appends under PINNED
geometry equal a one-shot build; --rebuild refits and overwrites."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable

_spec = importlib.util.spec_from_file_location(
    "job_index",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "job_index.py",
)
job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job)


def _emb(spark, sf_dir, cap):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < cap)
        .select("vec_id", "embedding")
    )


def _run_index(spark, argv):
    """Drive job_index.main() with patched argv; the job's getOrCreate
    resolves to the shared test session, and spark.stop() is neutered
    for the suite's sake."""
    import pyspark.sql.session as _sess

    old_argv = sys.argv
    old_stop = type(spark).stop
    sys.argv = ["job_index.py"] + argv
    type(spark).stop = lambda self: None
    try:
        job.main()
    finally:
        sys.argv = old_argv
        type(spark).stop = old_stop


def test_ivf_incremental_appends_match_one_shot_build(spark, sf_dir, tmp_path, capsys):
    from ocr_parallel_spark.functions.similarity import build_ivf_index

    out = str(tmp_path / "ivf")
    half = str(tmp_path / "half.parquet")
    full = str(tmp_path / "full.parquet")
    _emb(spark, sf_dir, 100).write.parquet(half)
    _emb(spark, sf_dir, 200).write.parquet(full)

    _run_index(spark, ["--input", half, "--output", out, "--kind", "ivf",
                       "--cells", "8"])
    snap1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert snap1["ordinal"] == 0
    cents = json.load(open(f"{out}/{job.IVF_CENTROIDS_FILE}"))

    _run_index(spark, ["--input", full, "--output", out, "--kind", "ivf",
                       "--cells", "8"])
    snap2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert snap2["ordinal"] == 1 and snap2["lineage"]["rows_written"] == 100
    # centroids PINNED: file unchanged by the incremental run
    assert json.load(open(f"{out}/{job.IVF_CENTROIDS_FILE}")) == cents

    committed = sorted(
        map(tuple, SnapshotTable(out).read(spark).collect())
    )
    oneshot = sorted(
        map(tuple, build_ivf_index(_emb(spark, sf_dir, 200), cents).collect())
    )
    assert committed == oneshot

    # third run over the same input: no-op
    _run_index(spark, ["--input", full, "--output", out, "--kind", "ivf",
                       "--cells", "8"])
    snap3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert snap3.get("noop") is True


def test_ivf_rebuild_refits_and_overwrites(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "ivf2")
    half = str(tmp_path / "h.parquet")
    _emb(spark, sf_dir, 100).write.parquet(half)
    _run_index(spark, ["--input", half, "--output", out, "--kind", "ivf",
                       "--cells", "4"])
    capsys.readouterr()
    _run_index(spark, ["--input", half, "--output", out, "--kind", "ivf",
                       "--cells", "8", "--rebuild"])
    snap = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert snap["lineage"]["mode"] == "rebuild"
    assert len(snap["data_dirs"]) == 1  # overwrite, not append
    # counted on the overwrite itself, like every other commit
    assert snap["lineage"]["rows_written"] == 100
    assert SnapshotTable(out).read(spark).count() == 100
    assert len(json.load(open(f"{out}/{job.IVF_CENTROIDS_FILE}"))) == 8


def test_lsh_param_mismatch_refuses_resume(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "lsh")
    half = str(tmp_path / "hl.parquet")
    _emb(spark, sf_dir, 50).write.parquet(half)
    _run_index(spark, ["--input", half, "--output", out, "--kind", "lsh",
                       "--planes", "4", "--tables", "4"])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="do not match"):
        _run_index(spark, ["--input", half, "--output", out, "--kind", "lsh",
                           "--planes", "8", "--tables", "4"])


def test_committed_index_feeds_ivf_topk(spark, sf_dir, tmp_path, capsys):
    """The job's committed table IS the ivf_topk(index=...) input: the
    persisted-index query path equals the inline path."""
    from ocr_parallel_spark.functions.similarity import ivf_topk

    out = str(tmp_path / "ivf3")
    full = str(tmp_path / "f.parquet")
    _emb(spark, sf_dir, 200).write.parquet(full)
    _run_index(spark, ["--input", full, "--output", out, "--kind", "ivf",
                       "--cells", "8"])
    capsys.readouterr()
    cents = json.load(open(f"{out}/{job.IVF_CENTROIDS_FILE}"))
    emb = _emb(spark, sf_dir, 200)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = SnapshotTable(out).read(spark)
    a = sorted(map(tuple, ivf_topk(emb, queries, cents, k=5, nprobe=4,
                                   index=idx).collect()))
    b = sorted(map(tuple, ivf_topk(emb, queries, cents, k=5,
                                   nprobe=4).collect()))
    assert a == b and len(a) > 0


def test_ivf_missing_or_replaced_centroids_refuses_append(
    spark, sf_dir, tmp_path, capsys
):
    """An incremental ivf run must never assign new vectors under a
    geometry other than the committed one: a DELETED centroids file
    (refit would be slice-local) and a REPLACED one (different cell
    count than the committed lineage) both refuse instead of silently
    splitting the index; --rebuild is the stated way out."""
    import os

    out = str(tmp_path / "ivf")
    half = str(tmp_path / "h.parquet")
    _emb(spark, sf_dir, 50).write.parquet(half)
    _run_index(spark, ["--input", half, "--output", out, "--cells", "4"])
    capsys.readouterr()
    cent = f"{out}/{job.IVF_CENTROIDS_FILE}"
    saved = open(cent).read()
    os.remove(cent)
    with pytest.raises(SystemExit, match="missing"):
        _run_index(spark, ["--input", half, "--output", out, "--cells", "4"])
    # replaced with a different-geometry fit (fewer cells)
    cents = json.loads(saved)
    with open(cent, "w") as fh:
        json.dump(cents[:2], fh)
    with pytest.raises(SystemExit, match="replaced after the fit"):
        _run_index(spark, ["--input", half, "--output", out, "--cells", "4"])
    # replaced with the SAME cell count but different values — the
    # value digest must catch what the count alone cannot
    perturbed = [list(c) for c in cents]
    perturbed[0][0] += 1.0
    with open(cent, "w") as fh:
        json.dump(perturbed, fh)
    with pytest.raises(SystemExit, match="replaced after the fit"):
        _run_index(spark, ["--input", half, "--output", out, "--cells", "4"])
    # restoring the original file resumes cleanly (no-op append)
    with open(cent, "w") as fh:
        fh.write(saved)
    _run_index(spark, ["--input", half, "--output", out, "--cells", "4"])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["noop"]
