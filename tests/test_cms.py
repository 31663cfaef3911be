"""Count-Min Sketch (functions/cms.py): the estimate/merge laws the
heavy-hitter prefilter rests on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_parallel_spark.functions.cms import cms_build, cms_estimate

W = 256  # deliberately small so collisions actually happen


def _stream(spark, spec):
    """spec: {key: count} -> a key multiset DataFrame."""
    rows = [(k,) for k, c in spec.items() for _ in range(c)]
    return spark.createDataFrame(rows, "k string")


def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    spec = {"banner": 50, "rare": 1, "mid": 7}
    s = _stream(spark, spec)
    grid = cms_build(s, "k", W, 4)
    est = {
        r.k: r.est_count
        for r in cms_estimate(
            s.select("k").distinct(), "k", grid, W, 4
        ).collect()
    }
    for k, c in spec.items():
        assert est[k] >= c  # the CMS law
    # 3 keys in 256 columns x 4 rows: the min over rows is exact here
    assert est == spec


def test_cms_overcount_law_under_heavy_collisions(spark):
    # 600 distinct keys in 256 columns force collisions in every row;
    # estimates may exceed truth but NEVER undercount
    spec = {f"k{i}": 1 + i % 3 for i in range(600)}
    s = _stream(spark, spec)
    grid = cms_build(s, "k", W, 4)
    rows = cms_estimate(s.select("k").distinct(), "k", grid, W, 4).collect()
    assert len(rows) == 600
    assert all(r.est_count >= spec[r.k] for r in rows)
    assert any(r.est_count > spec[r.k] for r in rows)  # collisions visible


def test_cms_merge_equals_rebuild(spark):
    """Grids built with the same (width, depth) merge by cell-wise sum:
    the sum of build(A) and build(B) equals build(A ++ B) exactly."""
    a = _stream(spark, {"x": 5, "y": 2})
    b = _stream(spark, {"y": 3, "z": 9})
    merged: dict = {}
    for part in (a, b):
        for r in cms_build(part, "k", W, 4).collect():
            cell = (r.row_idx, r.col_idx)
            merged[cell] = merged.get(cell, 0) + r.cnt
    rebuilt = {
        (r.row_idx, r.col_idx): r.cnt
        for r in cms_build(a.union(b), "k", W, 4).collect()
    }
    assert merged == rebuilt and len(merged) > 0


def test_cms_unseen_key_estimates_zero_and_nulls_ignored(spark):
    s = _stream(spark, {"x": 5})
    grid = cms_build(
        s.union(spark.createDataFrame([(None,)], "k string")), "k", W, 4
    )
    probe = spark.createDataFrame([("nope",), (None,)], "k string")
    got = {r.k: r.est_count for r in cms_estimate(probe, "k", grid, W, 4).collect()}
    # an unseen key can only read collision mass; with one built key in
    # 256 cols these cells are empty -> 0; NULL keys estimate 0 too
    assert got["nope"] == 0 and got[None] == 0


def test_cms_estimate_is_broadcast_only(spark, tmp_path):
    p = str(tmp_path / "grid")
    cms_build(_stream(spark, {"x": 3, "y": 1}), "k", W, 4).write.parquet(p)
    grid = spark.read.parquet(p)
    est = cms_estimate(spark.range(500).selectExpr("CAST(id AS STRING) AS k"),
                       "k", grid, W, 4)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning" not in plan and "SortMergeJoin" not in plan


def test_cms_param_validation(spark):
    s = _stream(spark, {"x": 1})
    with pytest.raises(ValueError):
        cms_build(s, "k", W, 9)
    with pytest.raises(ValueError):
        cms_estimate(s, "k", s, 1, 4)


def test_cms_prefilter_volume_reduction_on_corpus_lines(spark, sf_dir):
    """The number that matters at scale (the winnowed_spans lesson):
    with the gate sizing, only ~12-15% of line occurrences survive the
    prefilter into the exact distinct-count exchange — the singleton
    majority provably stops shuffling. Every planted banner occurrence
    must survive (no false negatives)."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark import queries_catalog as qc

    lines = qc._doc_lines(spark, sf_dir).select(
        F.sha2(F.col("line"), 256).alias("_line_key"), "line"
    )
    total = lines.count()
    grid = cms_build(lines.select("_line_key"), "_line_key", qc.CMS_W, qc.CMS_D)
    est = cms_estimate(lines, "_line_key", grid, qc.CMS_W, qc.CMS_D, "_e")
    cand = est.filter(F.col("_e") >= qc.LINE_DEDUP_MIN_COUNT)
    n_cand = cand.count()
    assert n_cand * 4 < total  # under 25% of occurrences shuffle
    # the planted boilerplate banners all survive the prefilter
    n_banner = lines.filter(
        F.col("line").isin(qc.BOILER_A, qc.BOILER_B)
    ).count()
    n_banner_cand = cand.filter(
        F.col("line").isin(qc.BOILER_A, qc.BOILER_B)
    ).count()
    assert n_banner_cand == n_banner and n_banner > 0
