"""Bloom-filter sidecar (functions/bloom.py): the membership laws the
cross-run dedup prefilter rests on, and verdict-equality of the curation
job with and without the sidecar."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_parallel_spark.curation_pipeline import run_curation_pipeline
from ocr_parallel_spark.functions.bloom import (
    bloom_build,
    bloom_merge,
    bloom_probe,
)

BITS = 4096


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k")
    )


def test_bloom_no_false_negatives(spark):
    """Every built key MUST probe maybe_seen — the property the dedup
    prefilter's correctness rests on (a false negative is a missed
    cross-run duplicate)."""
    committed = _keys(spark, 0, 200)
    words = bloom_build(committed, "k", BITS, 4)
    probed = bloom_probe(_keys(spark, 0, 400), "k", words, BITS, 4)
    misses = probed.filter(
        (F.split("k", "-")[1].cast("long") < 200) & ~F.col("maybe_seen")
    ).count()
    assert misses == 0
    # and unseen keys are NOT all flagged (the filter filters)
    unseen_pass = probed.filter(
        (F.split("k", "-")[1].cast("long") >= 200) & ~F.col("maybe_seen")
    ).count()
    assert unseen_pass > 150  # FP rate well under 25% at this sizing


def test_bloom_merge_equals_rebuild(spark):
    """bloom_merge(build(A), build(B)) == build(A union B) exactly —
    the append-only sidecar update path never needs the full rescan."""
    a, b = _keys(spark, 0, 150), _keys(spark, 100, 250)
    merged = sorted(
        map(tuple, bloom_merge(
            bloom_build(a, "k", BITS, 4), bloom_build(b, "k", BITS, 4)
        ).collect())
    )
    rebuilt = sorted(
        map(tuple, bloom_build(a.union(b), "k", BITS, 4).collect())
    )
    assert merged == rebuilt and len(merged) > 0


def test_bloom_probe_is_shuffle_free_on_corpus_side(spark, tmp_path):
    """With a PERSISTED word table (the deployment shape), the probe
    plan contains no hash exchange at all — broadcast joins only, so
    probing 10^12 rows is a map-side pass."""
    words_path = str(tmp_path / "words")
    bloom_build(_keys(spark, 0, 100), "k", BITS, 4).write.parquet(words_path)
    words = spark.read.parquet(words_path)
    probed = bloom_probe(_keys(spark, 0, 1000), "k", words, BITS, 4)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_bloom_param_validation(spark):
    k = _keys(spark, 0, 10)
    with pytest.raises(ValueError):
        bloom_build(k, "k", BITS, 9)  # > 8 digest slices
    with pytest.raises(ValueError):
        bloom_build(k, "k", 1000, 4)  # not a multiple of 64
    with pytest.raises(ValueError):
        bloom_probe(k, "k", k, 32, 4)  # under 64 bits


def test_job_bloom_prefilter_verdicts_identical(spark, tmp_path):
    """The sidecar is a pure optimization: cross-run exact dedup with
    the Bloom prefilter commits byte-identical verdicts to the plain
    semi-join path (a false positive only costs a redundant probe)."""
    from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable

    body_a = "plenty of unique content words here for the screen " * 4
    body_b = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    schema = "doc_id long, url string, text string, lang string, source string"
    run1 = spark.createDataFrame(
        [(1, "https://ok.org/a", body_a, "en", "s"),
         (2, "https://ok.org/b", body_b, "en", "s")],
        schema,
    )
    run2 = spark.createDataFrame(
        [(5, "https://ok.org/c", body_a, "en", "s"),   # cross-run dup of 1
         (6, "https://ok.org/d", body_b + "x ", "en", "s")],  # fresh text
        schema,
    )
    table = SnapshotTable(str(tmp_path / "verdicts"))
    run_resumable(
        run1, table, spark,
        lambda todo: run_curation_pipeline(todo, None, None),
        key_col="doc_id",
    )
    prior = table.read(spark).filter("kept").select("content_sha")
    words = bloom_build(prior, "content_sha", BITS, 4)
    plain = run_curation_pipeline(
        run2, None, None, prior_kept_hashes=prior
    )
    with_bloom = run_curation_pipeline(
        run2, None, None,
        prior_kept_hashes=prior, prior_bloom=words, bloom_bits=BITS,
    )
    rows_p = sorted(map(tuple, plain.collect()))
    rows_b = sorted(map(tuple, with_bloom.collect()))
    assert rows_p == rows_b
    got = {r[0]: r for r in rows_b}
    reason = plain.columns.index("drop_reason")
    assert got[5][reason] == "dup" and got[6][reason] is None


def test_bloom_probe_null_key_is_false_not_null(spark):
    """A NULL key is 'never seen' — maybe_seen must be a real false so
    both the maybe_seen slice and its complement keep the row."""
    words = bloom_build(_keys(spark, 0, 50), "k", BITS, 4)
    probe = spark.createDataFrame([("key-1",), (None,)], "k string")
    got = {r.k: r.maybe_seen for r in
           bloom_probe(probe, "k", words, BITS, 4).collect()}
    assert got["key-1"] is True and got[None] is False
