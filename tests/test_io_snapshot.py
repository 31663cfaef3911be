"""Snapshot table: atomic commit, append, resume (X9/S2 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_parallel_spark.io import SnapshotTable, resume_filter, run_resumable
from ocr_parallel_spark.kernel.extract import ERROR_TYPES


def _mkdf(spark, ids):
    return spark.createDataFrame(
        [(f"https://x/{i}", i) for i in ids], "url string, v int"
    )


def test_commit_and_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t1"))
    assert t.read(spark) is None
    snap = t.append(_mkdf(spark, range(10)), lineage={"run": "a"})
    assert snap["ordinal"] == 0
    got = t.read(spark)
    assert got.count() == 10
    assert t.current_snapshot()["lineage"]["run"] == "a"


def test_append_accumulates(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t2"))
    t.append(_mkdf(spark, range(5)))
    t.append(_mkdf(spark, range(5, 8)))
    assert t.read(spark).count() == 8
    assert t.current_snapshot()["ordinal"] == 1
    assert t.snapshot_at(0)["data_dirs"] == ["data/run-000000"]


def test_resume_skips_committed(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t3"))
    source = _mkdf(spark, range(10))
    first = source.filter(F.col("v") < 4)
    t.append(first)
    todo = resume_filter(source, t, spark, "url")
    assert todo.count() == 6
    assert todo.agg(F.min("v")).collect()[0][0] == 4


def test_run_resumable_end_to_end(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t4"))
    source = _mkdf(spark, range(10))

    def transform(df):
        return df.withColumn("v2", F.col("v") * 2)

    s1 = run_resumable(source.filter(F.col("v") < 6), t, spark, transform, "url")
    assert s1["lineage"]["rows_written"] == 6
    s2 = run_resumable(source, t, spark, transform, "url")
    assert s2["lineage"]["rows_written"] == 4
    assert t.read(spark).count() == 10
    # third run: nothing new -> no-op, table unchanged
    s3 = run_resumable(source, t, spark, transform, "url")
    assert s3.get("noop") is True
    assert t.current_snapshot()["ordinal"] == s2["ordinal"]


def test_partial_write_invisible(spark, tmp_path):
    """Uncommitted data dirs are never read (atomic pointer semantics)."""
    t = SnapshotTable(str(tmp_path / "t5"))
    t.append(_mkdf(spark, range(3)))
    # simulate a crashed run: data written, no manifest commit
    _mkdf(spark, range(100, 105)).write.parquet(str(t.root / "data/run-999999"))
    assert t.read(spark).count() == 3


def test_lineage_counters_match_committed_rows(spark, tmp_path):
    """The counters observed on the commit write equal counts taken over
    the committed rows. A run with nothing new commits no snapshot and
    leaves no run directory behind, and the next append still lands."""
    from ocr_parallel_spark.pages import synthesize_pages
    from ocr_parallel_spark.pipeline import run_extraction_pipeline

    t = SnapshotTable(str(tmp_path / "t5"))
    pages = synthesize_pages(spark, "/root/testdata/sf0.001").drop("doc_id")

    def transform(df):
        return run_extraction_pipeline(df, near_dups=True)

    snap = run_resumable(pages, t, spark, transform, "url")
    got = snap["lineage"]
    c = t.read(spark).agg(
        F.count(F.lit(1)).alias("rows_written"),
        F.count(F.when(F.col("status") == "found", 1)).alias("pages_extracted"),
        F.count(F.when(F.col("status") == "error", 1)).alias("errors"),
        F.count(F.when(F.col("is_exact_dup"), 1)).alias("exact_dups"),
        F.count(F.when(F.col("is_near_dup"), 1)).alias("near_dups"),
        F.sum("n_chars_out").alias("chars_out"),
    ).first().asDict()
    assert {k: got[k] for k in c} == c
    assert c["errors"] > 0  # synthesis plants error rows
    by_type = dict.fromkeys((f"errors_{e.lower()}" for e in ERROR_TYPES), 0)
    for r in t.read(spark).groupBy("error_type").count().collect():
        if r.error_type is not None:
            by_type[f"errors_{r.error_type.lower()}"] = r["count"]
    assert {k: got.get(k) for k in by_type} == by_type
    assert sum(by_type.values()) == c["errors"]
    assert c["pages_extracted"] > 0 and c["exact_dups"] > 0

    again = run_resumable(pages, t, spark, transform, "url")
    assert again["noop"] is True and again["ordinal"] == snap["ordinal"]
    assert again["lineage"]["rows_written"] == 0
    assert t.snapshot_at(snap["ordinal"] + 1) is None
    assert sorted(p.name for p in (t.root / "data").iterdir()) == ["run-000000"]

    fresh = (
        pages.dropDuplicates(["url"]).limit(3)
        .withColumn("url", F.concat("url", F.lit("?v=2")))
    )
    nxt = run_resumable(pages.unionByName(fresh), t, spark, transform, "url")
    assert nxt["ordinal"] == snap["ordinal"] + 1
    assert nxt["lineage"]["rows_written"] == 3
    assert t.read(spark).count() == c["rows_written"] + 3
    # the pipeline's near-dup persist stays cached otherwise, and a
    # materialized cache prints its plan once per reuse site
    spark.catalog.clearCache()


def test_time_travel_read_at_ordinal(spark, tmp_path):
    """Every committed ordinal keeps its manifest and its data dirs after
    later appends and even after an overwrite (old data dirs are never
    rewritten): the history ``read_increment`` diffs against."""
    t = SnapshotTable(str(tmp_path / "t6"))
    t.append(_mkdf(spark, range(3)))
    t.append(_mkdf(spark, range(10, 15)))
    assert t.read(spark).count() == 8
    assert t.snapshot_at(99) is None

    def count_at(ordinal):
        dirs = t.snapshot_at(ordinal)["data_dirs"]
        return spark.read.parquet(*[str(t.root / d) for d in dirs]).count()

    assert (count_at(0), count_at(1)) == (3, 8)
    t.overwrite(_mkdf(spark, range(100, 102)))
    assert t.read(spark).count() == 2
    # history still intact post-overwrite
    assert (count_at(0), count_at(1)) == (3, 8)
    assert t.current_snapshot()["data_dirs"] == ["data/run-000002"]


def test_schema_evolution_added_column(spark, tmp_path):
    """Add-column evolution: a later run commits an extra column; the
    current read reconciles by name (old rows read NULL), and each
    manifest records the schema as committed."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "t7"))
    t.append(_mkdf(spark, range(3)))
    evolved = _mkdf(spark, range(10, 12)).withColumn("score", F.col("v") * 2.0)
    t.append(evolved)

    cur = t.read(spark)
    assert set(cur.columns) == {"url", "v", "score"}
    assert cur.count() == 5
    # old rows surface the added column as NULL; new rows carry values
    assert cur.filter("score IS NULL").count() == 3
    assert cur.filter("score = v * 2.0").count() == 2
    # per-snapshot schema recorded in the manifest
    assert t.snapshot_at(0)["columns"] == ["url", "v"]
    assert t.snapshot_at(1)["columns"] == ["url", "v", "score"]


def test_read_increment_returns_only_appended_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t10"))
    t.append(_mkdf(spark, range(5)))          # ordinal 0
    t.append(_mkdf(spark, range(5, 8)))       # ordinal 1
    t.append(_mkdf(spark, range(8, 12)))      # ordinal 2
    inc = t.read_increment(spark, since_ordinal=0)
    assert sorted(r.v for r in inc.collect()) == list(range(5, 12))
    inc1 = t.read_increment(spark, since_ordinal=1)
    assert sorted(r.v for r in inc1.collect()) == list(range(8, 12))
    # nothing appended since current -> None
    assert t.read_increment(spark, since_ordinal=2) is None


def test_read_increment_rejects_rewritten_lineage(spark, tmp_path):
    import pytest

    t = SnapshotTable(str(tmp_path / "t11"))
    t.append(_mkdf(spark, range(5)))          # ordinal 0
    t.append(_mkdf(spark, range(5, 8)))       # ordinal 1
    t.overwrite(t.read(spark))                # ordinal 2: layout rewritten
    with pytest.raises(ValueError, match="non-append"):
        t.read_increment(spark, since_ordinal=0)
    # but increments WITHIN the post-overwrite lineage work again
    t.append(_mkdf(spark, range(8, 10)))      # ordinal 3
    inc = t.read_increment(spark, since_ordinal=2)
    assert sorted(r.v for r in inc.collect()) == [8, 9]
    # and a missing ordinal is an explicit error, not a silent full read
    with pytest.raises(ValueError, match="missing snapshot"):
        t.read_increment(spark, since_ordinal=99)


def test_reason_histogram_rides_lineage(spark, tmp_path):
    """A committed run whose rows carry drop_reason records its verdict
    breakdown in the snapshot lineage (kept = NULL reason)."""
    t = SnapshotTable(str(tmp_path / "t13"))
    df = spark.createDataFrame(
        [("u1", None), ("u2", "dup"), ("u3", "dup"), ("u4", "lang")],
        "url string, drop_reason string",
    )
    snap = run_resumable(df, t, spark, lambda d: d, key_col="url")
    assert snap["lineage"]["reasons"] == {"dup": 2, "kept": 1, "lang": 1}
    # tables without the column stay histogram-free
    t2 = SnapshotTable(str(tmp_path / "t14"))
    snap2 = run_resumable(
        spark.createDataFrame([("u1", 1)], "url string, v int"),
        t2, spark, lambda d: d, key_col="url",
    )
    assert "reasons" not in snap2["lineage"]
