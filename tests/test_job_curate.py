"""End-to-end test of the curation batch job: docs -> screens -> line
dedup -> exact dup on cleaned text -> decontamination -> snapshot commit
with resume (second run over the same input is a no-op)."""

from __future__ import annotations

import importlib.util
import pathlib

from pyspark.sql import functions as F

from ocr_parallel_spark.curation_pipeline import run_curation_pipeline
from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable

_spec = importlib.util.spec_from_file_location(
    "job_curate",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "job_curate.py",
)
job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job)


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "url",
            F.concat(
                F.lit("https://site-"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .select("doc_id", "url", "text", "lang", "source")
    )


def test_curate_job_end_to_end_and_resume(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    blocked = spark.createDataFrame([("site-3.example.com",)], "host string")
    bench = docs.filter(F.col("doc_id") % 50 == 7).select("text")

    out = run_curation_pipeline(docs, blocked, bench)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    reasons = {r["drop_reason"] for r in rows.values()}
    assert "blocked" in reasons and "contaminated" in reasons
    # blocklist screen outranks content reasons; bench docs on allowed
    # hosts carry the contamination flag
    for r in rows.values():
        if r["host"] == "site-3.example.com":
            assert r["drop_reason"] == "blocked"
        if r["doc_id"] % 50 == 7:
            assert r["contaminated"]
    assert sum(1 for r in rows.values() if r["kept"]) > 0

    # snapshot resume: first run commits everything, second is a no-op
    table = SnapshotTable(str(tmp_path / "verdicts"))
    snap1 = run_resumable(
        docs, table, spark,
        lambda todo: run_curation_pipeline(todo, blocked, bench),
        key_col="doc_id",
    )
    assert snap1["lineage"]["rows_written"] == docs.count()
    snap2 = run_resumable(
        docs, table, spark,
        lambda todo: run_curation_pipeline(todo, blocked, bench),
        key_col="doc_id",
    )
    assert snap2.get("noop") is True


def test_dup_canonical_slot_never_goes_to_screened_out_doc(spark):
    """A blocked doc with the same cleaned text as an allowed doc must
    NOT claim the canonical slot: the allowed twin stays kept (else the
    content would be permanently lost from the committed kept set)."""
    body = "plenty of unique content words here for the screen " * 4
    rows = [
        (1, "https://blocked.org/a", body, "en", "s"),
        (2, "https://ok.org/a", body, "en", "s"),
        (3, "https://ok.org/b", body, "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    blocked = spark.createDataFrame([("blocked.org",)], "host string")
    got = {r["doc_id"]: r for r in run_curation_pipeline(docs, blocked, None).collect()}
    assert got[1]["drop_reason"] == "blocked"
    # doc 2 is the first ELIGIBLE copy -> kept; doc 3 is its true dup
    assert got[2]["kept"] and got[2]["drop_reason"] is None
    assert got[3]["drop_reason"] == "dup"


def test_crlf_and_lf_line_endings_share_frequencies(spark):
    """CRLF and LF variants of the same banner line must count into ONE
    frequency bucket (split on \\r?\\n, not \\n)."""
    rows = [
        (i, f"https://h{i}.org/x", f"BANNER LINE\r\ncontent {i}", "en", "s")
        for i in range(3)
    ] + [
        (i, f"https://h{i}.org/x", f"BANNER LINE\ncontent {i}", "en", "s")
        for i in range(3, 6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    got = {r["doc_id"]: r for r in run_curation_pipeline(docs, None, None).collect()}
    # 6 distinct docs carry the banner (3 CRLF + 3 LF) -> >= 5 -> dropped
    for i in range(6):
        assert got[i]["n_kept_lines"] == 1, got[i]


def test_curate_job_real_newline_docs_use_line_granularity(spark):
    """Docs WITH newlines dedup on their real lines: a banner line shared
    by >= min_count docs is stripped, content survives."""
    rows = [
        (i, f"https://h{i}.org/x", f"COOKIE BANNER\ncontent {i} unique", "en", "s")
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    out = run_curation_pipeline(docs, None, None, min_line_count=5)
    got = {r["doc_id"]: r for r in out.collect()}
    for i in range(6):
        assert got[i]["n_kept_lines"] == 1


def test_null_text_doc_yields_exactly_one_verdict_row(spark, tmp_path):
    """A NULL-text doc must flow through as a verdict row (boilerplate),
    never vanish from the output and be re-selected as TODO forever
    (round-3 ADVICE: the [null] line key was dropped by dedup_lines'
    equi-join and the inner screens<->lined join lost the doc)."""
    body = "plenty of unique content words here for the screen " * 4
    rows = [
        (1, "https://ok.org/a", body, "en", "s"),
        (2, "https://ok.org/null", None, "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    got = {r["doc_id"]: r for r in run_curation_pipeline(docs, None, None).collect()}
    assert set(got) == {1, 2}
    assert got[1]["kept"]
    assert not got[2]["kept"]
    assert got[2]["n_kept_lines"] == 0
    # resume: both ids commit on run 1, run 2 is a true no-op
    table = SnapshotTable(str(tmp_path / "verdicts"))
    snap1 = run_resumable(
        docs, table, spark,
        lambda todo: run_curation_pipeline(todo, None, None),
        key_col="doc_id",
    )
    assert snap1["lineage"]["rows_written"] == 2
    snap2 = run_resumable(
        docs, table, spark,
        lambda todo: run_curation_pipeline(todo, None, None),
        key_col="doc_id",
    )
    assert snap2.get("noop") is True


def test_near_dup_stage_drops_non_canonical_cluster_members(spark):
    """--near-dup: near-identical (but not byte-identical) cleaned texts
    collapse to one canonical keeper (min doc_id); the rest drop as
    'near_dup'. Without the flag nothing is marked."""
    base = "plenty of unique content words here for the screen " * 4
    rows = [
        (10, "https://ok.org/a", base + "alpha", "en", "s"),
        (11, "https://ok.org/b", base + "bravo", "en", "s"),
        (12, "https://ok.org/c", base + "charlie", "en", "s"),
        # an unrelated doc that must stay kept
        (
            20,
            "https://ok.org/d",
            "totally different subject matter entirely about gardens "
            "and orchards with apples pears plums cherries apricots "
            "figs and many other fruit trees growing happily in rows "
            "beside the old farm house where the gardener tends them "
            "every single morning before the sun rises over the hill",
            "en",
            "s",
        ),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    off = {r["doc_id"]: r for r in run_curation_pipeline(docs, None, None).collect()}
    assert all(r["drop_reason"] != "near_dup" for r in off.values())
    got = {
        r["doc_id"]: r
        for r in run_curation_pipeline(docs, None, None, near_dup=True).collect()
    }
    assert got[10]["kept"] and got[10]["drop_reason"] is None
    assert got[11]["drop_reason"] == "near_dup"
    assert got[12]["drop_reason"] == "near_dup"
    assert got[20]["kept"]


def test_quality_filter_screen(spark, sf_dir):
    """--quality-filter: the job's verdicts agree doc-by-doc with the
    oracle-gated q_quality_classifier — a negative-score doc that
    passes every other screen drops as low_quality; without the flag
    the reason never appears."""
    from ocr_parallel_spark.queries_catalog import q_quality_classifier

    docs = _docs(spark, sf_dir)
    off = {r.doc_id: r for r in run_curation_pipeline(docs, None, None).collect()}
    assert all(r.drop_reason != "low_quality" for r in off.values())
    got = {
        r.doc_id: r
        for r in run_curation_pipeline(
            docs, None, None, quality_filter=True
        ).collect()
    }
    scores = {
        r.doc_id: r.keep for r in q_quality_classifier(spark, sf_dir).collect()
    }
    n_lowq = 0
    for doc_id, r in got.items():
        if r.drop_reason == "low_quality":
            n_lowq += 1
            assert not scores[doc_id]
        elif off[doc_id].drop_reason is None and not scores[doc_id]:
            # passed every earlier screen but scored negative -> must drop
            raise AssertionError(f"doc {doc_id} escaped the quality screen")
    assert n_lowq > 0


def test_quality_filter_trained_weights(spark, sf_dir, tmp_path):
    """--quality-weights: weights fit by train_quality_weights on a
    planted-taint corpus, persisted to parquet and fed to the job,
    drop exactly the tainted docs as low_quality (the stand-in scorer
    never sees the parquet path)."""
    from ocr_parallel_spark.functions.curation import (
        QT_TAINTS,
        train_quality_weights,
    )
    from ocr_parallel_spark.operators.classify import normalize_col

    raw = _docs(spark, sf_dir)
    taint = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" " + QT_TAINTS["mojibake"]))
        .otherwise(F.lit(""))
    )
    planted = raw.withColumn("text", F.concat(F.col("text"), taint))
    w = train_quality_weights(
        planted.select(
            normalize_col("text").alias("norm"),
            (F.col("doc_id") % 3 == 0).alias("label_low"),
        )
    )
    wpath = str(tmp_path / "qweights.parquet")
    w.write.parquet(wpath)
    got = {
        r.doc_id: r
        for r in run_curation_pipeline(
            planted,
            None,
            None,
            quality_filter=True,
            quality_weights=spark.read.parquet(wpath),
        ).collect()
    }
    for doc_id, r in got.items():
        if doc_id % 3 == 0:
            # tainted: never kept (the quality screen or an earlier
            # screen like lang claims it — both are drops)
            assert not r.kept, doc_id
        else:
            assert r.drop_reason != "low_quality", doc_id
    assert any(
        r.drop_reason == "low_quality" for r in got.values()
    )


def test_graph_prior_breaks_dup_ties_by_host_rank(spark):
    """--graph-prior: among byte-identical exact-dup twins the doc on
    the HIGHER-authority host keeps the canonical slot even when its
    doc_id is larger (without the prior, min doc_id wins); every
    verdict row carries host_rank_mi (0 for hosts missing from the
    prior table)."""
    text = "plenty of unique content words here for the screen " * 4 + "zulu"
    other = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning"
    )
    rows = [
        (2, "https://site-2.example.com/p/2", text, "en", "src"),
        (9, "https://site-2.example.com/p/9", other, "en", "src"),
        (16, "https://site-5.example.com/p/16", text, "en", "src"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    prior = spark.createDataFrame(
        [("site-2.example.com", 10), ("site-5.example.com", 900)],
        "host string, host_rank_mi long",
    )
    base = {
        r.doc_id: r for r in run_curation_pipeline(docs, None, None).collect()
    }
    assert base[2].kept and base[16].drop_reason == "dup"
    got = {
        r.doc_id: r
        for r in run_curation_pipeline(
            docs, None, None, graph_prior=prior
        ).collect()
    }
    # tiebreak flips: higher-rank site-5 doc wins despite larger id
    assert got[16].kept and got[2].drop_reason == "dup"
    assert got[16].host_rank_mi == 900 and got[2].host_rank_mi == 10
    assert got[9].host_rank_mi == 10 and got[9].kept


def test_near_dup_resume_noop(spark, tmp_path):
    """--near-dup composed with run_resumable: first run commits every
    verdict (incl. the near_dup drops), second run over the same input
    is a true no-op — the fuzzy stage must not disturb the one-row-per-
    doc_id resume invariant."""
    base = "plenty of unique content words here for the screen " * 4
    docs = spark.createDataFrame(
        [
            (10, "https://ok.org/a", base + "alpha", "en", "s"),
            (11, "https://ok.org/b", base + "bravo", "en", "s"),
            (12, "https://ok.org/c", base + "charlie", "en", "s"),
        ],
        "doc_id long, url string, text string, lang string, source string",
    )
    table = SnapshotTable(str(tmp_path / "verdicts"))
    snap1 = run_resumable(
        docs, table, spark,
        lambda todo: run_curation_pipeline(todo, None, None, near_dup=True),
        key_col="doc_id",
    )
    assert snap1["lineage"]["rows_written"] == 3
    committed = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert committed[10]["kept"]
    assert committed[11]["drop_reason"] == "near_dup"
    assert committed[12]["drop_reason"] == "near_dup"
    snap2 = run_resumable(
        docs, table, spark,
        lambda todo: run_curation_pipeline(todo, None, None, near_dup=True),
        key_col="doc_id",
    )
    assert snap2.get("noop") is True


def test_cross_run_exact_dedup_against_committed_kept_hashes(spark, tmp_path):
    """Incremental exact dedup must be corpus-correct, not slice-local:
    a run-2 doc whose cleaned text was already committed KEPT in run 1
    drops as 'dup' (no within-run twin needed); a doc whose committed
    twin was screened out still gets its own canonical slot."""
    body_a = "plenty of unique content words here for the screen " * 4
    body_b = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    blocked = spark.createDataFrame([("blocked.org",)], "host string")
    run1 = spark.createDataFrame(
        [
            (1, "https://ok.org/a", body_a, "en", "s"),
            (2, "https://blocked.org/b", body_b, "en", "s"),
        ],
        "doc_id long, url string, text string, lang string, source string",
    )
    run2_new = [
        (5, "https://ok.org/c", body_a, "en", "s"),  # twin of KEPT doc 1
        (6, "https://ok.org/d", body_b, "en", "s"),  # twin of BLOCKED doc 2
    ]
    all_docs = run1.union(
        spark.createDataFrame(
            run2_new,
            "doc_id long, url string, text string, lang string, source string",
        )
    )
    table = SnapshotTable(str(tmp_path / "verdicts"))
    run_resumable(
        run1, table, spark,
        lambda todo: run_curation_pipeline(todo, blocked, None),
        key_col="doc_id",
    )
    committed = table.read(spark)
    prior = committed.filter("kept").select("content_sha")
    run_resumable(
        all_docs, table, spark,
        lambda todo: run_curation_pipeline(
            todo, blocked, None, prior_kept_hashes=prior
        ),
        key_col="doc_id",
    )
    got = {r.doc_id: r for r in table.read(spark).collect()}
    assert len(got) == 4
    assert got[1].kept
    assert got[2].drop_reason == "blocked"
    # doc 5's text is committed-kept under doc 1 -> cross-run dup
    assert got[5].drop_reason == "dup"
    # doc 6's committed twin was screened out -> doc 6 claims the slot
    assert got[6].kept, got[6]


def test_cross_run_near_dup_against_committed_signatures(spark, tmp_path):
    """Incremental --near-dup must catch pairs SPLIT ACROSS RUNS: the
    committed kept doc's persisted minhash bands + cleaned text let a
    run-2 near-twin drop as 'near_dup' with no within-run partner,
    while an unrelated run-2 doc stays kept."""
    base = "plenty of unique content words here for the screen " * 4
    other = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    run1 = spark.createDataFrame(
        [(10, "https://ok.org/a", base + "alpha", "en", "s")],
        "doc_id long, url string, text string, lang string, source string",
    )
    all_docs = run1.union(
        spark.createDataFrame(
            [
                (20, "https://ok.org/b", base + "bravo", "en", "s"),
                (21, "https://ok.org/c", other, "en", "s"),
            ],
            "doc_id long, url string, text string, lang string, source string",
        )
    )
    table = SnapshotTable(str(tmp_path / "verdicts"))

    def run(docs):
        committed = table.read(spark)
        prior_h = prior_nd = None
        if committed is not None:
            prior_h = committed.filter("kept").select("content_sha")
            prior_nd = committed.filter("kept").select(
                "doc_id", "kept_text", "minhash_bands"
            )
        return run_resumable(
            docs, table, spark,
            lambda todo: run_curation_pipeline(
                todo, None, None, near_dup=True,
                prior_kept_hashes=prior_h, prior_kept_neardup=prior_nd,
            ),
            key_col="doc_id",
        )

    run(run1)
    first = {r.doc_id: r for r in table.read(spark).collect()}
    assert first[10].kept and first[10].minhash_bands is not None
    run(all_docs)
    got = {r.doc_id: r for r in table.read(spark).collect()}
    assert len(got) == 3
    assert got[10].kept
    assert got[20].drop_reason == "near_dup", got[20]
    assert got[21].kept, got[21]


def test_recompute_arbiter_applies_corpus_global_truth(spark, tmp_path):
    """The --recompute mode closes the documented incremental-resume
    tension: a banner line spread across TWO runs (3+3 docs, never >= 5
    within one run) survives both incremental commits, then is dropped
    as boilerplate once the arbiter re-runs the composition over the
    full corpus and overwrites the verdicts."""

    def mk(ids):
        body = "plenty of unique content words here for the screen " * 4
        return spark.createDataFrame(
            [
                (
                    i,
                    f"https://h{i}.org/x",
                    f"COOKIE BANNER SHARED LINE\n{body}tail{i}",
                    "en",
                    "s",
                )
                for i in ids
            ],
            "doc_id long, url string, text string, lang string, source string",
        )

    table = SnapshotTable(str(tmp_path / "verdicts"))
    run_resumable(
        mk(range(3)), table, spark,
        lambda todo: run_curation_pipeline(todo, None, None),
        key_col="doc_id",
    )
    all_docs = mk(range(6))
    run_resumable(
        all_docs, table, spark,
        lambda todo: run_curation_pipeline(todo, None, None),
        key_col="doc_id",
    )
    committed = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert len(committed) == 6
    # per-run slices each saw the banner only 3x -> kept everywhere
    assert all(r["n_kept_lines"] == 2 for r in committed.values())

    # arbiter: full-corpus recompute, one overwrite snapshot
    snap = table.overwrite(
        run_curation_pipeline(all_docs, None, None),
        lineage={"mode": "recompute"},
    )
    after = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert len(after) == 6
    # corpus truth: banner in 6 docs >= min_line_count -> boilerplate line dropped
    assert all(r["n_kept_lines"] == 1 for r in after.values())
    # the pre-recompute snapshot and its data dirs stay on disk
    before = table.snapshot_at(snap["ordinal"] - 1)["data_dirs"]
    assert spark.read.parquet(*[str(table.root / d) for d in before]).count() == 6


def test_recompute_job_counts_its_overwrite(spark, sf_dir, tmp_path):
    """job_curate --recompute commits its overwrite through the same
    write-then-count path as run_resumable: the lineage carries the
    observed rows_written and the reasons histogram of the committed
    verdicts, and the live set is the one new run directory."""
    import sys

    from ocr_parallel_spark.io.snapshot import reason_histogram

    src = str(tmp_path / "docs.parquet")
    _docs(spark, sf_dir).write.parquet(src)
    out = str(tmp_path / "verdicts")
    argv, stop = sys.argv, type(spark).stop
    type(spark).stop = lambda self: None
    try:
        for extra in ([], ["--recompute"]):
            sys.argv = ["job_curate.py", "--input", src, "--output", out, *extra]
            job.main()
    finally:
        sys.argv, type(spark).stop = argv, stop
    table = SnapshotTable(out)
    snap = table.current_snapshot()
    assert snap["ordinal"] == 1 and snap["data_dirs"] == ["data/run-000001"]
    lineage = snap["lineage"]
    assert lineage["mode"] == "recompute"
    committed = table.read(spark)
    n_docs = spark.read.parquet(src).count()
    assert lineage["rows_written"] == committed.count() == n_docs
    assert lineage["reasons"] == reason_histogram(committed)


def test_warc_input_feeds_curation(spark, sf_dir, tmp_path):
    """--input-format warc: the WARC fixture round-trips into the docs
    shape (text byte-identical to the documents table, stable hashed
    doc_id) and the full curation composition runs over it."""
    from ocr_parallel_spark.sources.warc import synthesize_warc_fixture, warc_docs

    fixture = synthesize_warc_fixture(spark, sf_dir)
    docs = warc_docs(spark, fixture)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert docs.count() == n_docs
    # texts byte-identical to the source table (join back via the url id)
    orig = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.col("text").alias("orig_text"),
    )
    mismatches = (
        docs.join(orig, "url").filter(F.col("text") != F.col("orig_text")).count()
    )
    assert mismatches == 0
    # doc_id is the stable url hash — re-reading yields identical keys
    a = sorted(r.doc_id for r in docs.select("doc_id").collect())
    b = sorted(r.doc_id for r in warc_docs(spark, fixture).select("doc_id").collect())
    assert a == b and len(set(a)) == n_docs
    # the job's composition accepts the shape end-to-end
    out = run_curation_pipeline(docs, None, None)
    assert out.count() == n_docs
    assert out.filter(F.col("kept")).count() > 0


def test_robots_screen_in_curation_job(spark, sf_dir):
    """--robots: a disallowed doc gets drop_reason 'robots' (before the
    content stages — it can never claim a dup-canonical slot), hosts
    without robots are unaffected."""
    docs = _docs(spark, sf_dir)
    robots = spark.createDataFrame(
        [("site-2.example.com", "User-agent: *\nDisallow: /p/\n")],
        "host string, robots_txt string",
    )
    out = run_curation_pipeline(docs, None, None, robots_df=robots)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == docs.count()
    for doc_id, r in got.items():
        if doc_id % 7 == 2:
            assert not r.kept
            # robots fires unless an earlier screen already dropped it
            assert r.drop_reason in ("robots", "lang", "too_short", "pii")
            if r.pred_lang == "en" and r.n_tokens >= 30 and r.n_pii < 2:
                assert r.drop_reason == "robots"
        else:
            assert r.drop_reason != "robots"
    assert any(r.drop_reason == "robots" for r in got.values())


def test_lm_ref_screen(spark, sf_dir):
    """--lm-ref: the CCNet-style trigram-LM screen fit on a trusted
    reference drops gibberish-tainted docs as high_surprise, records
    surprise_x16 on every verdict, keeps unscorable (< 3 token) docs,
    and never fires on docs at or under the threshold. Threshold 300
    sits between the measured clean (~221 x16) and tainted (~350 x16)
    means of this corpus."""
    from ocr_parallel_spark.functions.curation import QT_TAINTS

    base = _docs(spark, sf_dir)
    taint = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(" " + QT_TAINTS["mojibake"]))
        .when(F.col("doc_id") % 9 == 3, F.lit(" " + QT_TAINTS["lorem"]))
        .when(F.col("doc_id") % 9 == 6, F.lit(" " + QT_TAINTS["pii"]))
        .otherwise(F.lit(""))
    )
    crawl = base.select(
        "doc_id",
        "url",
        F.concat(F.coalesce(F.col("text"), F.lit("")), taint).alias("text"),
        "lang",
        "source",
    )
    ref = base.filter(F.col("doc_id") % 3 != 0)

    off = {r.doc_id: r for r in run_curation_pipeline(crawl, None, None).collect()}
    assert all(r.drop_reason != "high_surprise" for r in off.values())
    assert "surprise_x16" not in next(iter(off.values())).asDict()

    on = {
        r.doc_id: r
        for r in run_curation_pipeline(
            crawl, None, None, lm_ref=ref, lm_max_x16=300
        ).collect()
    }
    assert len(on) == len(off)
    n_high = 0
    for doc_id, r in on.items():
        if r.drop_reason == "high_surprise":
            n_high += 1
            # only scored docs over the threshold ever drop here,
            # and on this corpus that is exclusively the tainted third
            assert r.surprise_x16 is not None and r.surprise_x16 > 300
            assert doc_id % 3 == 0
        elif (
            off[doc_id].drop_reason is None
            and r.surprise_x16 is not None
            and r.surprise_x16 > 300
        ):
            raise AssertionError(f"doc {doc_id} escaped the LM screen")
        if r.kept:
            assert r.surprise_x16 is None or r.surprise_x16 <= 300
    assert n_high > 0


def test_first_failing_screen_wins_with_all_screens_on(spark, sf_dir):
    """Blocklist, robots, quality and LM screens on together: each doc's
    drop_reason is the first screen that drops it when run alone, in
    the order base screen (blocked/lang/too_short/pii), robots,
    low_quality, high_surprise."""
    from ocr_parallel_spark.functions.curation import QT_TAINTS

    base = _docs(spark, sf_dir)
    taint = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(" " + QT_TAINTS["mojibake"]))
        .when(F.col("doc_id") % 9 == 3, F.lit(" " + QT_TAINTS["lorem"]))
        .otherwise(F.lit(""))
    )
    docs = base.select(
        "doc_id",
        "url",
        F.concat(F.coalesce(F.col("text"), F.lit("")), taint).alias("text"),
        "lang",
        "source",
    )
    blocked = spark.createDataFrame([("site-3.example.com",)], "host string")
    # site-3 overlaps the blocklist; site-2 is disallowed outright
    robots = spark.createDataFrame(
        [
            ("site-2.example.com", "User-agent: *\nDisallow: /p/\n"),
            ("site-3.example.com", "User-agent: *\nDisallow: /p/1\n"),
        ],
        "host string, robots_txt string",
    )
    lm = {"lm_ref": base.filter(F.col("doc_id") % 3 != 0), "lm_max_x16": 300}

    def reasons(**kw):
        out = run_curation_pipeline(docs, **kw).select("doc_id", "drop_reason")
        return {r.doc_id: r.drop_reason for r in out.collect()}

    screen = {
        "base": ({"blocked", "lang", "too_short", "pii"},
                 reasons(blocked_hosts=blocked)),
        "robots": ({"robots"}, reasons(robots_df=robots)),
        "quality": ({"low_quality"}, reasons(quality_filter=True)),
        "lm": ({"high_surprise"}, reasons(**lm)),
    }
    every = set().union(*(names for names, _ in screen.values()))
    on = reasons(
        blocked_hosts=blocked, robots_df=robots, quality_filter=True, **lm
    )
    assert len(on) == docs.count()
    for doc_id, got in on.items():
        first = next(
            (run[doc_id] for names, run in screen.values() if run[doc_id] in names),
            None,
        )
        assert (got if got in every else None) == first, (doc_id, got, first)
    fired = set(on.values())
    assert {"blocked", "robots", "low_quality", "high_surprise"} <= fired


def test_sem_dedup_screen_drops_embedding_twins(spark):
    """--embeddings adds the SemDedup stage: docs whose TEXT differs but
    whose embeddings sit at cosine >= threshold drop as sem_dup (min-id
    canon keeps); docs without an embedding row are untouched."""
    body = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    alt = (
        "another long passage concerning sailing ships and the harbors "
        "they visit carrying spices silks and letters across the wide "
        "ocean to distant ports where merchants wait eagerly for news "
        "of their cargo and the tides that will bring the fleet home "
    )
    docs = spark.createDataFrame(
        [
            (1, "https://ok.org/a", body, "en", "s"),
            (2, "https://ok.org/b", alt, "en", "s"),           # semantic twin of 1
            (3, "https://ok.org/c", alt + "unique tail ", "en", "s"),  # no embedding
        ],
        "doc_id long, url string, text string, lang string, source string",
    )
    # doc 1 and 2: same direction; doc 3 has NO embedding row
    emb = spark.createDataFrame(
        [
            (1, [10.0, 1.0] + [0.0] * 14),
            (2, [10.0, 1.1] + [0.0] * 14),
        ],
        "doc_id long, embedding array<double>",
    )
    out = {r.doc_id: r for r in run_curation_pipeline(
        docs, None, None, embeddings=emb, sem_cells=1
    ).collect()}
    assert out[1].kept
    assert out[2].drop_reason == "sem_dup" and not out[2].kept
    assert out[3].kept
    # and without embeddings the same corpus keeps everything
    out2 = {r.doc_id: r for r in run_curation_pipeline(
        docs, None, None
    ).collect()}
    assert out2[2].kept


def test_lm_drop_tail_derives_cutoff_from_distribution(spark, sf_dir):
    """--lm-drop-tail: no magic threshold — the cutoff is the smallest
    score whose cumulative count reaches 2/3 of scored docs (the
    lm_terciles rule), and exactly the strictly-above-tail drops as
    high_surprise. The test re-derives the cutoff independently from
    the emitted surprise_x16 column."""
    from ocr_parallel_spark.functions.curation import QT_TAINTS

    base = _docs(spark, sf_dir)
    taint = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(" " + QT_TAINTS["mojibake"]))
        .when(F.col("doc_id") % 9 == 3, F.lit(" " + QT_TAINTS["lorem"]))
        .when(F.col("doc_id") % 9 == 6, F.lit(" " + QT_TAINTS["pii"]))
        .otherwise(F.lit(""))
    )
    crawl = base.select(
        "doc_id",
        "url",
        F.concat(F.coalesce(F.col("text"), F.lit("")), taint).alias("text"),
        "lang",
        "source",
    )
    ref = base.filter(F.col("doc_id") % 3 != 0)
    rows = run_curation_pipeline(
        crawl, None, None, lm_ref=ref, lm_max_x16=None
    ).collect()

    scores = sorted(r.surprise_x16 for r in rows if r.surprise_x16 is not None)
    n = len(scores)
    # the lm_terciles cut rule, replayed in plain python
    cum = 0
    cut2 = None
    from collections import Counter

    for s, c in sorted(Counter(scores).items()):
        cum += c
        if cut2 is None and cum * 3 >= 2 * n:
            cut2 = s
    expect_drop = {
        r.doc_id for r in rows
        if r.surprise_x16 is not None and r.surprise_x16 > cut2
    }
    got_drop = {r.doc_id for r in rows if r.drop_reason == "high_surprise"}
    # the screen can only drop docs that reached it (earlier screens
    # outrank); every LM drop must be tail, and every tail doc whose
    # earlier verdict was clean must be an LM drop
    assert got_drop <= expect_drop
    earlier = {
        r.doc_id for r in rows
        if r.drop_reason is not None and r.drop_reason != "high_surprise"
    }
    assert expect_drop - earlier == got_drop
    assert len(got_drop) > 0
    # tail fraction is about a third of scored docs (tie buckets allowed)
    assert len(expect_drop) * 5 < n * 3  # < 60% sanity bound


def test_excise_spans_surgery_on_kept_text(spark):
    """--excise-spans: a repeated 15-token window is cut from the
    non-canonical kept doc's curated text; the min-id owner keeps its
    bytes, verdicts are unchanged, and n_excised_tokens is recorded."""
    span = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    pre_a = "plenty of unique content words here for the screen " * 2
    pre_b = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots and figs "
    )
    docs = spark.createDataFrame(
        [
            (1, "https://ok.org/a", pre_a + span, "en", "s"),
            (2, "https://ok.org/b", pre_b + span, "en", "s"),
        ],
        "doc_id long, url string, text string, lang string, source string",
    )
    off = {r.doc_id: r for r in run_curation_pipeline(docs, None, None).collect()}
    on = {r.doc_id: r for r in run_curation_pipeline(
        docs, None, None, excise_spans=True
    ).collect()}
    assert all(r.kept for r in off.values()) and all(r.kept for r in on.values())
    # the owner's curated TOKENS are untouched (text reflows to spaces)
    assert on[1].kept_text.split() == off[1].kept_text.split()
    assert on[1].n_excised_tokens == 0
    assert on[2].n_excised_tokens == 20
    for w in span.split():
        assert w not in on[2].kept_text.split()
    # everything before the span survives in order
    assert on[2].kept_text.startswith("totally different subject")
    assert "n_excised_tokens" not in off[1].asDict()


def test_excise_spans_runs_before_bpe_counts(spark):
    """--excise-spans + --bpe-merges: the BPE count must price the
    SHIPPED (post-surgery) text — the non-canonical copy's n_bpe_tokens
    drops relative to the surgery-off run; the owner's does not."""
    span = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    pre_a = "plenty of unique content words here for the screen " * 2
    pre_b = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots and figs "
    )
    docs = spark.createDataFrame(
        [
            (1, "https://ok.org/a", pre_a + span, "en", "s"),
            (2, "https://ok.org/b", pre_b + span, "en", "s"),
        ],
        "doc_id long, url string, text string, lang string, source string",
    )
    from ocr_parallel_spark.functions.tokenize import fit_bpe_merges
    from ocr_parallel_spark.operators.classify import normalize_col

    merges = fit_bpe_merges(
        docs.select(normalize_col(F.col("text")).alias("norm")), "norm", 50
    )
    off = {r.doc_id: r for r in run_curation_pipeline(
        docs, None, None, bpe_merges=merges
    ).collect()}
    on = {r.doc_id: r for r in run_curation_pipeline(
        docs, None, None, bpe_merges=merges, excise_spans=True
    ).collect()}
    assert on[1].n_bpe_tokens == off[1].n_bpe_tokens
    assert on[2].n_bpe_tokens < off[2].n_bpe_tokens


def test_sem_dedup_pinned_centroids(spark):
    """sem_centroids pins the cell geometry: marks computed under the
    supplied centroids equal a direct semdedup_marks run with them, and
    the slice never refits."""
    from ocr_parallel_spark.functions.similarity import (
        kmeans_centroids,
        semdedup_marks,
    )

    body = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    alt = (
        "another long passage concerning sailing ships and the harbors "
        "they visit carrying spices silks and letters across the wide "
        "ocean to distant ports where merchants wait eagerly for news "
        "of their cargo and the tides that will bring the fleet home "
    )
    docs = spark.createDataFrame(
        [(1, "https://ok.org/a", body, "en", "s"),
         (2, "https://ok.org/b", alt, "en", "s")],
        "doc_id long, url string, text string, lang string, source string",
    )
    emb = spark.createDataFrame(
        [(1, [10.0, 1.0] + [0.0] * 14), (2, [10.0, 1.1] + [0.0] * 14)],
        "doc_id long, embedding array<double>",
    )
    cents = kmeans_centroids(emb, n_cells=1, id_col="doc_id")
    out = {r.doc_id: r for r in run_curation_pipeline(
        docs, None, None, embeddings=emb, sem_centroids=cents
    ).collect()}
    direct = {
        r.vec_id: r.is_sem_dup
        for r in semdedup_marks(
            emb.withColumnRenamed("doc_id", "vec_id"), cents, 0.9
        ).collect()
    }
    assert direct == {1: False, 2: True}
    assert out[1].kept and out[2].drop_reason == "sem_dup"


def test_cross_run_sem_dedup_against_committed_embeddings(spark, tmp_path):
    """Incremental --embeddings under a PINNED geometry must catch
    semantic twins SPLIT ACROSS RUNS: the committed kept doc's persisted
    (sem_cell, sem_emb) lets a run-2 embedding twin drop as 'sem_dup'
    with no within-run partner; an orthogonal-embedding doc and a doc
    without an embedding row stay kept."""
    body = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    alt = (
        "another long passage concerning sailing ships and the harbors "
        "they visit carrying spices silks and letters across the wide "
        "ocean to distant ports where merchants wait eagerly for news "
        "of their cargo and the tides that will bring the fleet home "
    )
    third = (
        "a completely separate treatise on mountain weather patterns "
        "describing how cold fronts meet warm valley air and produce "
        "sudden storms that shepherds learn to read from the shape of "
        "clouds gathering along the high ridgeline before every noon "
    )
    schema = "doc_id long, url string, text string, lang string, source string"
    run1 = spark.createDataFrame(
        [(10, "https://ok.org/a", body, "en", "s")], schema
    )
    all_docs = run1.union(
        spark.createDataFrame(
            [
                (20, "https://ok.org/b", alt, "en", "s"),    # embedding twin of 10
                (21, "https://ok.org/c", third, "en", "s"),  # orthogonal embedding
                (22, "https://ok.org/d", alt + "unique tail ", "en", "s"),  # no vector
            ],
            schema,
        )
    )
    emb = spark.createDataFrame(
        [
            (10, [10.0, 1.0] + [0.0] * 14),
            (20, [10.0, 1.1] + [0.0] * 14),
            (21, [0.0, 0.0, 7.0] + [0.0] * 13),
        ],
        "doc_id long, embedding array<double>",
    )
    # pinned geometry shared by both runs (the job_index shape)
    cents = [[1.0, 0.1] + [0.0] * 14, [0.0, 0.0, 1.0] + [0.0] * 13]
    table = SnapshotTable(str(tmp_path / "verdicts"))

    def run(docs):
        committed = table.read(spark)
        prior_h = prior_sem = None
        if committed is not None:
            prior_h = committed.filter("kept").select("content_sha")
            prior_sem = committed.filter("kept and sem_emb is not null").select(
                "doc_id", "sem_cell", "sem_emb"
            )
        return run_resumable(
            docs, table, spark,
            lambda todo: run_curation_pipeline(
                todo, None, None, embeddings=emb,
                sem_centroids=cents, prior_sem=prior_sem,
                prior_kept_hashes=prior_h,
            ),
            key_col="doc_id",
        )

    run(run1)
    first = {r.doc_id: r for r in table.read(spark).collect()}
    assert first[10].kept
    assert first[10].sem_emb is not None and first[10].sem_cell == 0
    run(all_docs)
    got = {r.doc_id: r for r in table.read(spark).collect()}
    assert len(got) == 4
    assert got[10].kept
    assert got[20].drop_reason == "sem_dup" and got[20].sem_emb is None, got[20]
    assert got[21].kept and got[21].sem_cell == 1, got[21]
    assert got[22].kept and got[22].sem_cell is None, got[22]


def test_cross_run_sem_dedup_skipped_without_prior(spark, tmp_path):
    """Without prior_sem (main() skips it when --sem-centroids is
    absent) a run-2 semantic twin of a committed doc stays KEPT — the
    documented within-run boundary, pinned so the skip is a visible
    contract rather than an accident."""
    body = (
        "totally different subject matter entirely about gardens and "
        "orchards with apples pears plums cherries apricots figs and "
        "many other fruit trees growing happily in rows beside the old "
        "farm house where the gardener tends them every single morning "
    )
    alt = (
        "another long passage concerning sailing ships and the harbors "
        "they visit carrying spices silks and letters across the wide "
        "ocean to distant ports where merchants wait eagerly for news "
        "of their cargo and the tides that will bring the fleet home "
    )
    schema = "doc_id long, url string, text string, lang string, source string"
    run1 = spark.createDataFrame(
        [(10, "https://ok.org/a", body, "en", "s")], schema
    )
    all_docs = run1.union(
        spark.createDataFrame([(20, "https://ok.org/b", alt, "en", "s")], schema)
    )
    emb = spark.createDataFrame(
        [(10, [10.0, 1.0] + [0.0] * 14), (20, [10.0, 1.1] + [0.0] * 14)],
        # float32 on purpose: sem_emb must persist in the INPUT's own
        # element type (double would silently 2x the committed state)
        "doc_id long, embedding array<float>",
    )
    table = SnapshotTable(str(tmp_path / "verdicts2"))

    def run(docs):
        committed = table.read(spark)
        prior_h = None
        if committed is not None:
            prior_h = committed.filter("kept").select("content_sha")
        return run_resumable(
            docs, table, spark,
            lambda todo: run_curation_pipeline(
                todo, None, None, embeddings=emb, sem_cells=1,
                prior_kept_hashes=prior_h,
            ),
            key_col="doc_id",
        )

    run(run1)
    run(all_docs)
    final = table.read(spark)
    got = {r.doc_id: r for r in final.collect()}
    assert got[10].kept and got[20].kept
    assert dict(final.dtypes)["sem_emb"] == "array<float>"
