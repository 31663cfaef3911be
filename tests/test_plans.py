"""Physical-plan shape regression tests — the 100 TB guarantees.

Correctness tests say the answers are right; these say the PLANS stay
right: filters/projections reach the parquet scan, the tiny-dimension
theta join broadcasts, keep-first dedup gets the map-side rank-limit
(shuffle shrinks before the exchange), and exactly one Python boundary
exists in the extraction pipeline. A regression here is a 100x cost bug
at scale that no row-count test would catch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plan_helpers import count_nodes, plan_string as plan_of


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


@pytest.mark.parametrize(
    "op, args, band_col, above",
    [
        ("simhash_near_reps", ("simhash", "url"), "band_val", "_nd_id"),
        ("pairs_from_banded", ("url",), "band_hash", "id_a"),
    ],
    ids=["simhash_near_reps", "pairs_from_banded"],
)
def test_simhash_near_reps_verify_is_bucket_local(
    spark, sf_dir, op, args, band_col, above
):
    """Band pass: one exchange by band bucket (shared by the size window
    and the member collection), one above it (SimHash: by doc id to elect
    the representative; MinHash: the pairs' ``distinct``), and no join."""
    import re

    from ocr_parallel_spark.operators import neardup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.xxhash64("text").alias("simhash"),
        F.array(F.xxhash64("text"), F.xxhash64("lang")).alias("bands"),
    )
    p = plan_of(getattr(neardup, op)(docs, *args), "simple")
    assert p.count("Exchange hashpartitioning") == 2
    band = rf"Exchange hashpartitioning\(band_idx#\d+, {band_col}#\d+L?,"
    assert len(re.findall(band, p)) == 1
    assert re.search(rf"Exchange hashpartitioning\({above}#\d+,", p)
    assert "Join" not in p


def test_theta_join_broadcasts_target_side(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_theta_join_localization

    p = plan_of(q_theta_join_localization(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p  # never shuffles the big side for J2


def test_local_frame_is_a_local_table_scan(spark, sf_dir):
    """Constant frames ship to the JVM once and plan as a LocalTableScan,
    never as a Python RDD (``ExistingRDD``), each scan of which would run
    Python tasks. ``createDataFrame(<list>)`` builds the latter, so a
    silent fall back to it shows here."""
    from ocr_parallel_spark import local_frame
    from ocr_parallel_spark.queries_catalog import q_full_process_boundaries

    rows = [(1, ["A", "B"], "A"), (2, [], None)]
    frame = local_frame(
        spark, rows, "target_id int, tokens array<string>, anchor string"
    )
    empty = local_frame(spark, [], "host string")
    for df in (frame, empty):
        p = plan_of(df, "simple")
        assert "LocalTableScan" in p and "ExistingRDD" not in p
    assert [tuple(r) for r in frame.collect()] == rows
    assert empty.collect() == []
    query = q_full_process_boundaries(spark, sf_dir)
    assert "ExistingRDD" not in plan_of(query, "simple")


def test_cosine_topk_broadcasts_query_side(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_cosine_topk

    p = plan_of(q_cosine_topk(spark, sf_dir), "simple")
    assert "BroadcastExchange" in p


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


def _jobs_run_by(spark, fn, group: str):
    """(result of ``fn()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("n_files", [1, 16])
def test_fan_out_probe_counts_scan_partitions_without_a_job(
    spark, sf_dir, tmp_path, n_files
):
    """The probe reads the scan leaf of the physical plan: the same count
    as the Python RDD's partitions, and no job runs."""
    from ocr_parallel_spark.fanout import scan_partitions

    path = str(tmp_path / "docs")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        n_files
    ).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("doc_id") >= 0).select("text")
    got, jobs = _jobs_run_by(spark, lambda: scan_partitions(df), f"probe{n_files}")
    assert jobs == 0
    assert got == df.rdd.getNumPartitions()


# Entries over the documents whose build runs jobs for a reason of its
# own — a localCheckpoint or a count() probe inside the operator.
_BUILD_RUNS_JOBS = frozenset({
    "bpe_counts", "curation_pipeline", "dsir_weights", "pack_tokenized",
    "pack_windows", "quality_trained", "repeated_spans", "sequence_pack",
    "token_budget_mix", "winnowed_spans",
})


def test_building_document_queries_runs_no_job(spark, sf_dir):
    """Documents are read with their known schema and the fan-out probe
    runs nothing, so building an entry over ``_docs`` (DataFrame plus
    schema, no action) starts no Spark job; a schema-less parquet read
    runs one to read the file footers."""
    import inspect

    from ocr_parallel_spark.queries_catalog import queries

    jobs = {}
    for name, build in queries().items():
        if name in _BUILD_RUNS_JOBS or "_docs(" not in inspect.getsource(build):
            continue
        build(spark, sf_dir)  # warm: a session's first build may compile
        _, jobs[name] = _jobs_run_by(
            spark, lambda: build(spark, sf_dir).schema, f"build_{name}"
        )
    assert "full_process_boundaries" in jobs and len(jobs) > 30
    assert {name: n for name, n in jobs.items() if n} == {}


def _lambda_regexp_replaces(plan) -> list[str]:
    """``regexp_replace`` expressions that sit inside a lambda function in
    a logical plan's expressions."""
    found = []

    def walk(e, in_lambda):
        cls = e.getClass().getSimpleName()
        in_lambda = in_lambda or cls == "LambdaFunction"
        if in_lambda and cls == "RegExpReplace":
            found.append(e.toString())
        kids = e.children()
        for i in range(kids.size()):
            walk(kids.apply(i), in_lambda)

    nodes = [plan]
    while nodes:
        node = nodes.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            walk(exprs.apply(i), False)
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_full_process_scans_documents_once(spark, sf_dir):
    """The candidate pages come from the matching chunks' members: one
    scan of documents.parquet, no pages join keyed by (doc_id, source),
    and no page-wide regexp_replace re-run per token inside a lambda."""
    from ocr_parallel_spark.queries_catalog import q_full_process_boundaries

    query = q_full_process_boundaries(spark, sf_dir)
    p = plan_of(query, "simple")
    assert p.count("FileScan parquet") == 1
    assert "documents.parquet" in p
    opt = query._jdf.queryExecution().optimizedPlan()
    joins, nodes = [], [opt]
    while nodes:
        node = nodes.pop()
        if node.getClass().getSimpleName() == "Join":
            joins.append(node.condition().toString())
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    assert joins and not [c for c in joins if "doc_id" in c], joins
    assert _lambda_regexp_replaces(opt) == []


# py4j round trips to build q_full_process_boundaries (warm, no action),
# 4 cores: 1,913 with the chain built from F.* Columns, 364 with it built
# as SQL text, one call per dependency level. The budget is 1.5x the
# latter.
FULL_PROCESS_BUILD_ROUND_TRIPS = 546


def _round_trips(fn) -> int:
    """py4j commands sent while ``fn()`` runs, not counting the memory
    releases: those free proxies of earlier frames whenever Python's GC
    gets to them, so they vary between identical builds."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    orig, sent = GatewayClient.send_command, []

    def counting(self, command, *args, **kwargs):
        if not command.startswith(release):
            sent.append(command)
        return orig(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        fn()
    finally:
        GatewayClient.send_command = orig
    return len(sent)


def test_full_process_build_round_trip_budget(spark, sf_dir):
    """Building the full-process chain stays cheap on the driver: each
    F.* call is a py4j round trip (recording its Python call site too), so
    the chain is SQL text, one selectExpr or agg per dependency level."""
    from ocr_parallel_spark.queries_catalog import q_full_process_boundaries

    q_full_process_boundaries(spark, sf_dir)  # warm: the first build loads classes
    n = _round_trips(lambda: q_full_process_boundaries(spark, sf_dir))
    assert 0 < n <= FULL_PROCESS_BUILD_ROUND_TRIPS, n


def test_full_process_broadcasts_targets_once(spark, sf_dir):
    """The targets join the chunks once, in localization; refinement's
    per-page re-match rides on the localized rows, so no second targets
    join (and no second broadcast job) remains."""
    from ocr_parallel_spark.queries_catalog import q_full_process_boundaries

    p = plan_of(q_full_process_boundaries(spark, sf_dir), "simple")
    assert p.count("BroadcastExchange") == 1, p
    assert "BroadcastHashJoin" not in p


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
