"""Physical-plan shape regression tests — the 100 TB guarantees.

Correctness tests say the answers are right; these say the PLANS stay
right: filters/projections reach the parquet scan, the tiny-dimension
theta join broadcasts, keep-first dedup gets the map-side rank-limit
(shuffle shrinks before the exchange), and exactly one Python boundary
exists in the extraction pipeline. A regression here is a 100x cost bug
at scale that no row-count test would catch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


from ocr_parallel_spark.plans import count_nodes, plan_string as plan_of  # noqa: E402


def test_scan_pushdown_and_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.select("doc_id").filter(F.col("doc_id") < 100)
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in p
    assert "ReadSchema: struct<doc_id:bigint>" in p  # column pruning


def test_pipeline_has_exactly_one_python_boundary(spark, sf_dir):
    from ocr_parallel_spark.pages import synthesize_pages
    from ocr_parallel_spark.pipeline import run_extraction_pipeline

    pages = synthesize_pages(spark, sf_dir).drop("doc_id")
    out = run_extraction_pipeline(pages)
    assert count_nodes(out, "MapInArrow") == 1, (
        "extraction kernel must be ONE Arrow stage"
    )
    p = plan_of(out)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, (
        "no row-at-a-time / extra Python UDFs on the hot path"
    )


def test_keep_first_gets_mapside_rank_limit(spark, sf_dir):
    from ocr_parallel_spark.operators.dedup import keep_first

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = keep_first(docs, ["source"], ["doc_id"])
    p = plan_of(out)
    # Spark's WindowGroupLimit appears on the map side (before Exchange):
    # duplicate rows are cut before they shuffle.
    pre_exchange = p.split("Exchange")[0]
    assert "WindowGroupLimit" in pre_exchange


def test_exact_content_dups_shuffle_once(spark, sf_dir):
    """row_number and first over the content key share one window, so
    exact dedup shuffles the extracted rows once."""
    from ocr_parallel_spark.operators.dedup import mark_exact_content_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("source").alias("url"), F.col("doc_id").alias("warc_ts"), "text"
    )
    p = plan_of(mark_exact_content_dups(docs, "text", ["warc_ts", "url"]), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_simhash_near_reps_verify_is_bucket_local(spark, sf_dir):
    """Near-dup reps: one exchange by band bucket (shared by the size
    window and the member collection), one by doc id, and no join."""
    import re

    from ocr_parallel_spark.operators.neardup import simhash_near_reps

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.xxhash64("text").alias("simhash"),
    )
    p = plan_of(simhash_near_reps(docs, "simhash", "url"), "simple")
    assert p.count("Exchange hashpartitioning") == 2
    assert re.search(r"Exchange hashpartitioning\(band_idx#\d+, band_val#\d+L?,", p)
    assert re.search(r"Exchange hashpartitioning\(_nd_id#\d+,", p)
    assert "Join" not in p


def test_theta_join_broadcasts_target_side(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_theta_join_localization

    p = plan_of(q_theta_join_localization(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p  # never shuffles the big side for J2


def test_cosine_topk_broadcasts_query_side(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_cosine_topk

    p = plan_of(q_cosine_topk(spark, sf_dir), "simple")
    assert "BroadcastExchange" in p


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Bucket-by-url storage (io/bucketed.py): two tables bucketed on the
    same key join with NO Exchange — the parquet analog of Iceberg
    bucket(N, url), the north_star partitioning requirement."""
    from ocr_parallel_spark.io.bucketed import write_bucketed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    left = docs.select("doc_id", "source")
    right = docs.select("doc_id", "n_chars")
    write_bucketed(left, "t_bleft", str(tmp_path / "bl"), key="doc_id", n_buckets=4)
    write_bucketed(right, "t_bright", str(tmp_path / "br"), key="doc_id", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bleft").join(spark.table("t_bright"), "doc_id")
        p = plan_of(j, "simple")
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"
        # sanity: result is right
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_fan_out_probes_only_scan_chains(spark, sf_dir):
    """fan_out probes and repartitions only scan/filter/project chains:
    the probe would run AQE query stages on anything else. Column names
    do not count as plan nodes, so a column called ``Union`` or
    ``Window`` still fans out."""
    from ocr_parallel_spark.fanout import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # one split at sf0.001
    scan = docs.select(
        F.col("doc_id").alias("Union"), F.col("text").alias("Window")
    ).filter(F.col("Union") >= 0)
    assert (
        fan_out(scan).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    for df in (
        docs.join(docs.select("doc_id"), "doc_id"),
        docs.groupBy("source").count(),
        docs.distinct(),
    ):
        assert fan_out(df) is df


def test_salted_rollup_two_stage(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_salted_rollup

    p = plan_of(q_salted_rollup(spark, sf_dir), "simple")
    # two-stage: partial agg on the salted key, final agg on the bare key
    # -> at least two HashAggregate pairs in the plan
    assert p.count("HashAggregate") >= 4


def test_anchor_salted_two_stage(spark, sf_dir):
    """Skew-safe anchor aggregation (VERDICT r4 #6): the hot-href
    corpus must aggregate in two stages — partial count/collect_set on
    (href, _salt) so the planted every-page '/' key spreads over 16
    reducers, then the final merge on bare href. Both exchange keys
    pinned."""
    import re

    from ocr_parallel_spark.queries_catalog import q_anchor_text_salted

    p = plan_of(q_anchor_text_salted(spark, sf_dir), "simple")
    assert re.search(r"ObjectHashAggregate\(keys=\[href#\d+, _salt#\d+\]", p)
    assert re.search(r"Exchange hashpartitioning\(href#\d+, _salt#\d+", p)
    # final stage: bare href key, merging partial sums + anchor sets
    assert re.search(
        r"ObjectHashAggregate\(keys=\[href#\d+\], functions=\[sum", p
    )
    assert re.search(r"Exchange hashpartitioning\(href#\d+, \d+\)", p)


def test_multitable_lsh_plan_shape(spark, sf_dir):
    """ANN multi-table LSH 100 TB guarantees: zero Python anywhere, the
    query side of BOTH joins broadcasts (index probe + vector fetch), and
    the L-fold explode multiplies only (id, bucket) index rows — the
    64-double vector column must not appear below a Generate (explode)
    node."""
    from ocr_parallel_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the GATED config (multi-probe): the probe expansion must ride the
    # broadcast query side only
    out = lsh_topk(emb, queries, k=5, dim=64, n_planes=4, n_tables=4, n_probes=4)
    p = plan_of(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInArrow" not in p  # pure expressions, no kernel needed
    assert "BroadcastHashJoin" in p
    # every Generate (posexplode/explode) operates on the bucket array
    # only; 'embedding' never rides through an explode
    for seg in p.split("Generate")[1:]:
        first_line = seg.split("\n", 1)[0]
        assert "embedding" not in first_line, first_line


def test_dsir_plan_broadcasts_ratio_table(spark, sf_dir):
    """dsir_weights 100 TB shape: the 256-row ratio table broadcasts
    into the per-doc pass (no sort-merge on bucket), and the whole
    query is pure expressions — zero Python."""
    from ocr_parallel_spark.queries_catalog import q_dsir_weights

    p = plan_of(q_dsir_weights(spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p and "MapInArrow" not in p
    assert "BroadcastHashJoin [bucket" in p


def test_bm25_plan_broadcasts_terms_and_limits_topk(spark, sf_dir):
    """bm25_search: the query-term table rides a broadcast (corpus rows
    never shuffle for the term join) and the top-10 rank filter runs
    map-side (WindowGroupLimit) before the per-query exchange."""
    from ocr_parallel_spark.queries_catalog import q_bm25_search

    p = plan_of(q_bm25_search(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p


def test_weighted_sample_plan_windowgrouplimit(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_weighted_sample

    p = plan_of(q_weighted_sample(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("WindowGroupLimit") >= 2  # Partial (map-side) + Final


def test_warc_read_pipelines_without_exchange(spark, sf_dir):
    """The record splitter and the HTTP strip are two mapInPandas that
    must PIPELINE on the scan tasks: no Exchange may sit between the
    binaryFile scan and the second Python stage — archive bytes and
    payload blocks never shuffle."""
    from ocr_parallel_spark.sources.warc import (
        read_warc,
        response_bodies,
        synthesize_warc_fixture,
    )

    fixture = synthesize_warc_fixture(spark, sf_dir)
    p = plan_of(response_bodies(read_warc(spark, fixture)), "simple")
    # plan reads bottom-up scan -> gen -> strip; no Exchange anywhere
    assert "Exchange" not in p
    assert p.count("MapInPandas") == 2


def test_semdedup_plan_equality_join_no_python(spark, sf_dir):
    """The within-cell pair join must hash on the cell EQUALITY (never
    a nested-loop/cartesian over the corpus — the inequality is a
    post-filter), with no Python stage anywhere: centroids are plan
    literals, cosine is codegen."""
    from ocr_parallel_spark.queries_catalog import q_semdedup

    p = plan_of(q_semdedup(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_excise_spans_plan_no_python_no_nlj(spark, sf_dir):
    """Span surgery is pure expressions + hash joins: window hashing,
    ownership agg, and the in-row token filter all stay in codegen."""
    from ocr_parallel_spark.queries_catalog import q_excise_spans

    p = plan_of(q_excise_spans(spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p


def test_cross_run_semdedup_plan_hash_joins_no_python(spark, sf_dir):
    """The cross-run SemDedup probe (new surviving vectors vs committed
    sem_emb) must stay hash-equi-joined on the cell with the occupancy
    cap as semi-joins — never a nested-loop/cartesian against the
    committed corpus — and pure codegen: the curation composition keeps
    zero Python stages even with the cross-run branch active."""
    from ocr_parallel_spark.curation_pipeline import run_curation_pipeline

    docs = spark.createDataFrame(
        [(1, "https://ok.org/a", "plenty of unique content words here "
          "for the screen to keep this document alive", "en", "s")],
        "doc_id long, url string, text string, lang string, source string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "doc_id long, embedding array<double>"
    )
    prior = spark.createDataFrame(
        [(99, 0, [0.9, 0.1, 0.0, 0.0])],
        "doc_id long, sem_cell long, sem_emb array<double>",
    )
    out = run_curation_pipeline(
        docs, None, None,
        embeddings=emb,
        sem_centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        prior_sem=prior,
    )
    p = plan_of(out, "simple")
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
