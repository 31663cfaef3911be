"""Web-corpus curation operator tests: line dedup, repetition signals,
stratified sampling, PII scrubbing (functions/curation.py,
operators/linededup.py).

These are the CCNet/Gopher-style steps beyond the reference's scope
(SURVEY §2.8 toolkit); semantics are pinned here and cross-checked
against DuckDB by the line_dedup / repetition_signals /
stratified_sample / pii_scrub catalog oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_parallel_spark.functions.curation import (
    pii_counts,
    scrub_pii,
    stratified_keep,
    word_bigrams,
    word_lines,
)
from ocr_parallel_spark.operators.linededup import dedup_lines


def _one_text(spark, text):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(F.split("t", " ").alias("toks"))


def test_word_lines_ragged_tail(spark):
    row = (
        _one_text(spark, " ".join(f"w{i}" for i in range(19)))
        .select(word_lines(F.col("toks"), 8).alias("lines"))
        .first()
    )
    assert row["lines"] == [
        " ".join(f"w{i}" for i in range(8)),
        " ".join(f"w{i}" for i in range(8, 16)),
        "w16 w17 w18",
    ]


def test_word_lines_short_doc_single_line(spark):
    row = _one_text(spark, "a b").select(word_lines(F.col("toks")).alias("l")).first()
    assert row["l"] == ["a b"]


def test_word_bigrams_and_short_guard(spark):
    df = spark.createDataFrame([("a b c a b",), ("solo",)], "t string")
    rows = df.select(
        "t", word_bigrams(F.split("t", " ")).alias("bg")
    ).collect()
    by_t = {r["t"]: r["bg"] for r in rows}
    assert by_t["a b c a b"] == ["a b", "b c", "c a", "a b"]
    # sequence(1, n-1) would DESCEND for n=1; the guard returns [].
    assert by_t["solo"] == []


def test_dedup_lines_drops_frequent_keeps_rare(spark):
    # 'banner' appears in 6 docs (>= min_count 5) -> dropped everywhere;
    # each doc's unique line survives; doc order is by line_no.
    rows = [(d, 0, "banner") for d in range(6)]
    rows += [(d, 1, f"unique {d}") for d in range(6)]
    rows += [(0, 2, "second unique 0")]
    lines = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    out = {r["doc_id"]: r for r in dedup_lines(lines, min_count=5).collect()}
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 2
    assert out[0]["kept_text"] == "unique 0\nsecond unique 0"
    assert out[1]["n_lines"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["kept_text"] == "unique 1"


def test_dedup_lines_counts_distinct_docs_not_occurrences(spark):
    """CCNet semantics: one spammy doc repeating a line 5 times must NOT
    promote that line to corpus boilerplate — the threshold counts
    DISTINCT documents."""
    rows = [(0, i, "buy now") for i in range(5)]  # 5 occurrences, 1 doc
    rows += [(1, 0, "buy now"), (1, 1, "real content")]
    lines = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    out = {r["doc_id"]: r for r in dedup_lines(lines, min_count=5).collect()}
    # 2 distinct docs < 5 -> kept everywhere
    assert out[0]["n_kept"] == 5
    assert out[1]["kept_text"] == "buy now\nreal content"


def test_stratified_keep_boundary_rates_and_validation(spark):
    import pytest

    df = spark.range(64).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    _, all_keep = stratified_keep(F.col("lang"), F.col("doc_id"), {}, 256, "s")
    _, none_keep = stratified_keep(F.col("lang"), F.col("doc_id"), {}, 0, "s")
    assert df.filter(all_keep).count() == 64
    assert df.filter(none_keep).count() == 0
    with pytest.raises(ValueError):
        stratified_keep(F.col("lang"), F.col("doc_id"), {"en": 257}, 128, "s")


def test_dedup_lines_all_boilerplate_doc_survives_empty(spark):
    rows = [(d, 0, "banner") for d in range(5)]
    lines = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    out = dedup_lines(lines, min_count=5).filter(F.col("doc_id") == 0).first()
    assert out["n_kept"] == 0 and out["kept_text"] == ""


def test_stratified_keep_deterministic_and_rate(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    bucket, kept = stratified_keep(
        F.col("lang"), F.col("doc_id"), {"en": 0x40}, 0x80, "seed42"
    )
    out = df.select("lang", kept.alias("kept"))
    agg = {
        r["lang"]: (r["n"], r["k"])
        for r in out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("kept").cast("int")).alias("k"))
        .collect()
    }
    # sha2 is uniform: en ~25%, zh ~50%, loose +-8pp band on 1000 rows.
    assert abs(agg["en"][1] / agg["en"][0] - 0.25) < 0.08
    assert abs(agg["zh"][1] / agg["zh"][0] - 0.50) < 0.08
    # Deterministic: a second evaluation is bit-identical.
    assert out.collect() == df.select("lang", kept.alias("kept")).collect()


def test_pii_scrub_counts_and_redaction(spark):
    text = (
        "reach me at First.Last+tag@sub.Example.COM or 555-867-5309 "
        "from host 192.168.0.1 version 1.2 build 3"
    )
    df = spark.createDataFrame([(text,)], "t string")
    c = pii_counts(F.col("t"))
    row = df.select(
        c["email"].alias("e"),
        c["phone"].alias("p"),
        c["ip"].alias("i"),
        scrub_pii(F.col("t")).alias("s"),
    ).first()
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)
    assert row["s"] == (
        "reach me at [EMAIL] or [PHONE] from host [IP] version 1.2 build 3"
    )
    # 'version 1.2 build 3' shows the IP pattern needs four dotted quads
    # and the phone pattern a full 3-3-4 shape — no partial matches.


def test_pii_scrub_no_pii_is_identity(spark):
    df = spark.createDataFrame([("plain words only",)], "t string")
    row = df.select(scrub_pii(F.col("t")).alias("s")).first()
    assert row["s"] == "plain words only"


def _wide_inputs(spark, sf_dir):
    """Wide property-sweep input: the corpus texts plus crafted edges
    (empty, single token, unicode, embedded PII, pattern-adjacent
    near-misses) — one DataFrame so every law is checked over hundreds
    of cases in a single Spark job instead of per-example rounds."""
    from pyspark.sql import functions as F

    edges = [
        "", "x", "  ", "a b", "one two three four five six seven eight nine",
        "u@d.co", "u@d.co u@d.co u@d.co", "555-123-4567", "1.2.3.4",
        "999-99-9999 12.34 v1.2.3", "café naïve Ω≈ç",
        "a@b mail@ @host .com", "10.0.0.1:8080 555-12-3456",
    ]
    crafted = spark.createDataFrame([(t,) for t in edges], "t string")
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("text").alias("t"))
        .limit(400)
    )
    return crafted.union(corpus)


def test_word_lines_coverage_law(spark, sf_dir):
    """Joining the lines back with spaces reproduces the token stream
    exactly, for any line width — no token lost or duplicated."""
    d = _wide_inputs(spark, sf_dir).select(F.split("t", " ").alias("toks"))
    for width in (1, 3, 8):
        bad = d.filter(
            F.array_join(word_lines(F.col("toks"), width), " ")
            != F.array_join(F.col("toks"), " ")
        ).count()
        assert bad == 0, f"width {width}"


def test_word_ngrams_count_law(spark, sf_dir):
    from ocr_parallel_spark.functions.curation import word_ngrams

    d = _wide_inputs(spark, sf_dir).select(F.split("t", " ").alias("toks"))
    for k in (2, 5, 8):
        bad = d.filter(
            F.size(word_ngrams(F.col("toks"), k))
            != F.greatest(F.lit(0), F.size("toks") - (k - 1))
        ).count()
        assert bad == 0, f"k {k}"


def test_scrub_pii_idempotent_and_identity_without_matches(spark, sf_dir):
    d = _wide_inputs(spark, sf_dir).select("t", scrub_pii(F.col("t")).alias("s"))
    assert d.filter(scrub_pii(F.col("s")) != F.col("s")).count() == 0
    c = pii_counts(F.col("t"))
    no_pii = d.filter((c["email"] + c["phone"] + c["ip"]) == 0)
    assert no_pii.filter(F.col("s") != F.col("t")).count() == 0


def test_line_dedup_query_drops_planted_banners(spark, sf_dir):
    """E2E on the synthetic corpus: both banners cross the frequency
    threshold and vanish; every content line is rarer and survives."""
    from ocr_parallel_spark.queries_catalog import BOILER_A, BOILER_B, q_line_dedup

    out = q_line_dedup(spark, sf_dir)
    assert out.filter(
        F.col("kept_text").contains(BOILER_A) | F.col("kept_text").contains(BOILER_B)
    ).count() == 0
    # The banner is always dropped; a handful of docs also lose a short
    # ragged tail-line that happens to repeat corpus-wide (correct CCNet
    # behavior — common short lines ARE boilerplate-like). Most docs
    # drop exactly the one banner line.
    n = out.count()
    assert out.filter(F.col("n_kept") > F.col("n_lines") - 1).count() == 0
    exact = out.filter(F.col("n_kept") == F.col("n_lines") - 1).count()
    assert exact >= n * 0.9


def test_curation_plans_stay_jvm_side(spark, sf_dir):
    """All four curation queries must plan without a Python boundary
    (pure expressions / built-in aggregates — whole-stage codegen), and
    the line-frequency count must shuffle on the 32-byte sha2 key, not
    on raw line text."""
    from plan_helpers import plan_string
    from ocr_parallel_spark.queries_catalog import queries

    q = queries()
    for name in ("line_dedup", "repetition_signals", "stratified_sample", "pii_scrub"):
        p = plan_string(q[name](spark, sf_dir))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name
    p = plan_string(q["line_dedup"](spark, sf_dir))
    assert "hashpartitioning(_line_key" in p


def test_repetition_signals_planted_dup_line(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_repetition_signals

    out = q_repetition_signals(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    # the replanted first line makes every %5 doc report >= 1 dup line
    assert out.filter(F.col("n_dup_lines") < 1).count() == 0


def test_decontaminate_flags_bench_docs_and_broadcasts(spark, sf_dir):
    from plan_helpers import plan_string
    from ocr_parallel_spark.queries_catalog import q_decontaminate

    out = q_decontaminate(spark, sf_dir)
    # every benchmark doc shares its own grams -> contaminated, with
    # n_hits = its distinct 8-gram count (> 0 for any >= 8-token doc)
    bench = out.filter(F.col("is_bench"))
    assert bench.count() > 0
    assert bench.filter(~F.col("contaminated")).count() == 0
    assert bench.filter(F.col("n_hits") < 1).count() == 0
    # most non-bench docs are clean (word-salad 8-grams rarely collide)
    nb = out.filter(~F.col("is_bench"))
    assert nb.filter(~F.col("contaminated")).count() > nb.count() * 0.9
    # the 100 TB plan guarantee: the eval-gram side broadcasts; corpus
    # grams never hash-shuffle for the join
    assert "BroadcastHashJoin" in plan_string(out)


def test_domain_stats_blocklist_and_counts(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import BLOCKED_HOSTS, q_domain_stats

    out = q_domain_stats(spark, sf_dir)
    # exactly the blocklisted hosts flag, every doc of those hosts
    flagged_hosts = {
        r["host"] for r in out.filter(F.col("blocked")).select("host").distinct().collect()
    }
    assert flagged_hosts == set(BLOCKED_HOSTS)
    # host_docs is consistent: sum over distinct hosts == total docs
    total = out.count()
    per_host = out.select("host", "host_docs").distinct()
    assert per_host.agg(F.sum("host_docs")).first()[0] == total


def test_host_col_normalizes_scheme_port_userinfo(spark):
    """Blocklist keying must not be evadable via scheme case, an
    explicit port, or userinfo in the authority."""
    from ocr_parallel_spark.functions.urls import host_col

    rows = [
        ("HTTPS://Site-3.Example.COM:443/x",),
        ("https://u:p@site-5.example.com/y",),
        ("http://plain.org/z",),
        ("not a url",),
    ]
    got = [
        r[0]
        for r in spark.createDataFrame(rows, "url string")
        .select(host_col("url"))
        .collect()
    ]
    assert got == ["site-3.example.com", "site-5.example.com", "plain.org", ""]


def _docs_with_urls(spark, sf_dir):
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


def test_blocklist_duplicates_do_not_fan_verdicts(spark, sf_dir):
    """A blocklist whose rows collide after lowercasing ('Site-3...' +
    'site-3...') must still yield exactly ONE verdict row per doc — the
    broadcast side dedups post-normalization, or the left join would
    emit every doc on that host once per colliding row."""
    from ocr_parallel_spark.functions.curation import curate_docs

    docs = _docs_with_urls(spark, sf_dir)
    messy = spark.createDataFrame(
        [("Site-3.example.com",), ("site-3.example.com",),
         ("SITE-3.EXAMPLE.COM",)],
        "host string",
    )
    out = curate_docs(docs, messy)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    blocked = out.filter("drop_reason = 'blocked'")
    assert blocked.count() > 0
    assert set(
        r.host for r in blocked.select("host").distinct().collect()
    ) == {"site-3.example.com"}


def test_encoding_quality_flags_planted_mojibake(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_encoding_quality

    out = q_encoding_quality(spark, sf_dir)
    tainted = out.filter(F.col("doc_id") % 4 == 1)
    assert tainted.filter(~F.col("suspect_encoding")).count() == 0
    # the planted taint carries exactly 3 marker hits (C3-acute pair
    # counts once via the A-tilde lead, the curly-quote lead pair, the
    # stray C2)
    assert tainted.filter(F.col("n_mojibake") != 3).count() == 0
    repl = out.filter(F.col("doc_id") % 10 == 2)
    assert repl.filter(F.col("n_replacement") < 1).count() == 0
    # clean docs (word-salad ASCII) are never flagged
    clean = out.filter((F.col("doc_id") % 4 != 1) & (F.col("doc_id") % 10 != 2))
    assert clean.filter(F.col("suspect_encoding")).count() == 0


def test_curation_pipeline_composes_stage_signals(spark, sf_dir):
    """The composite's verdicts must agree with the standalone stage
    queries (same taints, same thresholds) and apply first-failing
    precedence."""
    from ocr_parallel_spark.queries_catalog import (
        q_curation_pipeline,
        q_decontaminate,
        q_encoding_quality,
    )

    out = q_curation_pipeline(spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    # encoding outranks everything: every %4==1 doc is dropped as
    # 'encoding' (suspect_encoding is planted there)
    enc = {r["doc_id"] for r in q_encoding_quality(spark, sf_dir)
           .filter(F.col("suspect_encoding")).collect()}
    assert enc and all(rows[i]["drop_reason"] == "encoding" for i in enc)
    # contaminated docs not caught by an earlier stage carry the flag
    cont = {r["doc_id"] for r in q_decontaminate(spark, sf_dir)
            .filter(F.col("contaminated")).collect()}
    assert cont and all(rows[i]["contaminated"] for i in cont)
    early = {"encoding", "lang", "too_short", "pii", "boilerplate"}
    for i in cont:
        assert rows[i]["drop_reason"] in early | {"contaminated"}
    # at least some docs survive the whole gauntlet
    assert sum(1 for r in rows.values() if r["kept"]) > 0


def test_repeated_spans_flags_planted_shared_sentence(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_repeated_spans

    out = q_repeated_spans(spark, sf_dir)
    planted = out.filter(F.col("doc_id") % 9 == 0)
    # the 20-token planted sentence slides into >= 6 window-15 spans,
    # all shared across the planted docs
    assert planted.filter(~F.col("has_shared")).count() == 0
    assert planted.filter(F.col("n_shared") < 6).count() == 0
    # Most non-planted docs are clean. Not all: the synthetic corpus
    # contains exact-duplicate documents (content_hash_dedup's subject),
    # and an exact dup shares EVERY window with its twin — a true
    # positive for span-level dedup, not noise (~8% observed).
    clean = out.filter(F.col("doc_id") % 9 != 0)
    assert clean.filter(F.col("has_shared")).count() < clean.count() * 0.2


def test_winnowed_spans_agrees_on_planted_and_cuts_volume(spark, sf_dir):
    """The winnowed (minimizer-sampled) variant must (a) still flag
    every planted doc — the 20-token span clears the
    SPAN_W + WINNOW_W - 1 = 18-token winnowing guarantee — and (b)
    emit far fewer fingerprint rows than stride-1 (~2/(w+1)), which is
    the whole point: at 100 TB the stride-1 re-key is corpus-sized."""
    from ocr_parallel_spark.queries_catalog import (
        WINNOW_W,
        q_repeated_spans,
        q_winnowed_spans,
    )

    win = q_winnowed_spans(spark, sf_dir)
    planted = win.filter(F.col("doc_id") % 9 == 0)
    assert planted.filter(~F.col("has_shared")).count() == 0
    # volume: total fingerprints vs total stride-1 spans
    n_fp = win.agg(F.sum("n_fp")).collect()[0][0]
    n_spans = (
        q_repeated_spans(spark, sf_dir).agg(F.sum("n_spans")).collect()[0][0]
    )
    assert n_fp < n_spans * (2.5 / (WINNOW_W + 1))
    # winnowed shared set stays a SUBSET story: a doc flagged by the
    # sampled variant is flagged by the exhaustive one too
    both = win.select("doc_id", F.col("has_shared").alias("w")).join(
        q_repeated_spans(spark, sf_dir).select(
            "doc_id", F.col("has_shared").alias("s")
        ),
        "doc_id",
    )
    assert both.filter(F.col("w") & ~F.col("s")).count() == 0


def test_quality_classifier_scores_deterministic_and_discriminative(spark, sf_dir):
    """The hashed-linear scorer must (a) be bit-deterministic across
    evaluations (broadcast weight table + integer sums), (b) split the
    corpus (both verdicts occur — a degenerate all-keep filter pins
    nothing), and (c) agree with a driver-side recomputation on a
    sampled doc."""
    import hashlib

    from ocr_parallel_spark.queries_catalog import (
        QC_BUCKETS,
        QC_WEIGHT_MULT,
        q_quality_classifier,
    )

    out = q_quality_classifier(spark, sf_dir)
    rows = {r.doc_id: r for r in out.collect()}
    again = {r.doc_id: r for r in q_quality_classifier(spark, sf_dir).collect()}
    assert rows == again
    kept = sum(1 for r in rows.values() if r.keep)
    assert 0 < kept < len(rows)
    # driver-side recomputation for one doc
    from ocr_parallel_spark.operators.classify import normalize_col

    doc = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") == 7)
        .select(normalize_col("text").alias("norm"))
        .collect()[0]
    )
    score = 0
    toks = doc.norm.split(" ")
    for tok in toks:
        b = int(hashlib.sha256(tok.encode()).hexdigest()[:4], 16) % QC_BUCKETS
        score += (b * QC_WEIGHT_MULT) % 1000 - 500
    assert rows[7].score_mi == score and rows[7].n_tokens == len(toks)


def test_quality_trained_floors(spark, sf_dir):
    """The trained ternary-vote classifier must clear precision AND
    recall >= 0.9 on the held-out planted-taint split (VERDICT r4 #3
    done-criterion; measured 1.0/1.0 on this corpus), with a non-empty
    weight table containing only discriminative votes."""
    from ocr_parallel_spark.functions.curation import (
        QT_TAINTS,
        train_quality_weights,
    )
    from ocr_parallel_spark.queries_catalog import q_quality_trained

    r = q_quality_trained(spark, sf_dir).collect()[0]
    assert r.precision_ok and r.recall_ok, r.asDict()
    assert r.tp > 0 and r.n_eval > r.tp
    # weight table: ternary, sparse, non-empty
    from ocr_parallel_spark.queries_catalog import _docs

    taint = F.when(
        F.col("doc_id") % 3 == 0, F.lit(" " + QT_TAINTS["mojibake"])
    ).otherwise(F.lit(""))
    w = train_quality_weights(
        _docs(spark, sf_dir).select(
            F.concat(F.col("norm"), taint).alias("norm"),
            (F.col("doc_id") % 3 == 0).alias("label_low"),
        )
    ).collect()
    assert 0 < len(w) < 1024
    assert all(r2["_wt"] in (-1, 1) for r2 in w)


def test_sequence_pack_offsets_contiguous_and_windows_consistent(spark, sf_dir):
    """Packing invariants: per source the packed stream is gapless
    (offset = sum of preceding docs' tokens), window ids follow from
    offset arithmetic, and a doc splits iff its span crosses a
    PACK_WINDOW boundary."""
    from ocr_parallel_spark.queries_catalog import PACK_WINDOW, q_sequence_pack

    rows = q_sequence_pack(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    n_split = 0
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        expect_off = 0
        for r in rs:
            assert r.tok_offset == expect_off, (src, r.doc_id)
            assert r.win_start == r.tok_offset // PACK_WINDOW
            assert r.win_end == (r.tok_offset + r.n_tokens - 1) // PACK_WINDOW
            assert r.n_windows == r.win_end - r.win_start + 1 >= 1
            assert r.is_split == (r.n_windows > 1)
            expect_off += r.n_tokens
        # last doc's end window covers the whole stream
        assert rs[-1].win_end == (expect_off - 1) // PACK_WINDOW
        n_split += sum(1 for r in rs if r.is_split)
    # the window size is chosen so both branches occur at every sf
    assert 0 < n_split < len(rows)


def test_pack_windows_fill_laws(spark, sf_dir):
    """Window-view invariants: per source every window except the last
    is exactly full, window ids are gapless from 0, and total fill
    equals the packed token total from the doc view."""
    from ocr_parallel_spark.queries_catalog import (
        PACK_WINDOW,
        q_pack_windows,
        q_sequence_pack,
    )

    rows = q_pack_windows(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.win_id)
        assert [r.win_id for r in rs] == list(range(len(rs))), src
        for r in rs[:-1]:
            assert r.is_full and r.fill_tokens == PACK_WINDOW, (src, r)
        assert 0 < rs[-1].fill_tokens <= PACK_WINDOW
    total_fill = sum(r.fill_tokens for r in rows)
    total_tokens = (
        q_sequence_pack(spark, sf_dir).agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert total_fill == total_tokens


def test_pack_two_level_equals_window(spark, sf_dir):
    """The distributed two-level prefix sum must be byte-identical to
    the single-window-per-source twin (VERDICT r4 #2's done-criterion:
    semantics pinned, only the physical shape changes)."""
    from ocr_parallel_spark.operators.chunking import pack_sequences
    from ocr_parallel_spark.operators.classify import normalize_col

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", normalize_col("text").alias("norm"))
    )
    cols = ["source", "doc_id"]
    fast = sorted(
        pack_sequences(docs, 64, distributed=True).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    slow = sorted(
        pack_sequences(docs, 64, distributed=False).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    assert fast == slow and len(fast) > 0


def test_pack_two_level_spans_multiple_tasks(spark):
    """The scale claim itself: on a 2-source corpus the two-level
    offsets computation must place each source across >1 range
    partition (the single-window twin provably cannot), while the
    offsets stay the exact per-source exclusive prefix sums."""
    from ocr_parallel_spark.operators.chunking import _two_level_offsets

    n = 400
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "cc").otherwise("books").alias("source"),
        (F.col("id") % 7 + 1).cast("long").alias("n_tokens"),
    )
    out = _two_level_offsets(docs, "doc_id", "source", num_parts=8).collect()
    pids: dict = {}
    offsets: dict = {}
    for r in out:
        pids.setdefault(r.source, set()).add(r["_pack_pid"])
        offsets[(r.source, r.doc_id)] = r.tok_offset
    assert all(len(p) > 1 for p in pids.values()), {
        s: len(p) for s, p in pids.items()
    }
    # exact exclusive prefix sums per source in doc_id order
    for src in ("cc", "books"):
        ids = sorted(i for s, i in offsets if s == src)
        expect = 0
        for i in ids:
            assert offsets[(src, i)] == expect, (src, i)
            expect += i % 7 + 1


def test_pack_custom_token_counter(spark):
    """Tokenizer-faithful packing (VERDICT r4 #5): a precomputed
    n_tokens column (here: byte length div 4, a BPE-ish stand-in)
    drives offsets/window ids exactly; NULL text under the default
    whitespace counter counts as one empty token instead of
    corrupting every later offset with size(NULL) = -1 (ADVICE r4)."""
    from ocr_parallel_spark.operators.chunking import pack_sequences

    docs = spark.createDataFrame(
        [
            (0, "s", "alpha beta gamma delta"),
            (1, "s", None),
            (2, "s", "x " * 40),
            (3, "s", "tail words here"),
            (4, None, "null source is a legal group"),
        ],
        "doc_id long, source string, norm string",
    )
    # pluggable counter: byte length div 4
    counted = docs.withColumn(
        "bpe_tokens", (F.length(F.coalesce("norm", F.lit(""))) / 4).cast("long")
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(
            counted, 8, n_tokens_col="bpe_tokens"
        ).collect()
    }
    lens = {0: 22 // 4, 1: 0, 2: 80 // 4, 3: 15 // 4}
    expect_off = 0
    for i in range(4):
        assert rows[i].n_tokens == lens[i]
        assert rows[i].tok_offset == expect_off
        assert rows[i].win_start == expect_off // 8
        expect_off += lens[i]
    # default whitespace counter: NULL behaves as '' (one token)
    rows2 = {r.doc_id: r for r in pack_sequences(docs, 8).collect()}
    assert rows2[1].n_tokens == 1
    assert rows2[2].tok_offset == rows2[1].tok_offset + 1
    assert all(r.tok_offset >= 0 for r in rows2.values())
    # NULL source: its own group, never silently dropped by the
    # two-level base join (null-safe equi-join)
    assert rows2[4].source is None and rows2[4].tok_offset == 0


def test_token_budget_mix_budget_and_determinism(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_token_budget_mix

    out = q_token_budget_mix(spark, sf_dir)
    # taken docs respect the hard 500-token budget per source
    assert out.filter(F.col("taken") & (F.col("cum_tokens") > 500)).count() == 0
    # every source takes at least one doc (first doc in hash order is
    # small enough on this corpus) and drops at least one
    per_src = out.groupBy("source").agg(
        F.sum(F.col("taken").cast("int")).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    assert per_src.filter(F.col("k") == 0).count() == 0
    assert per_src.filter(F.col("k") == F.col("n")).count() == 0
    # deterministic: re-running yields the identical taken set
    a = sorted(r["doc_id"] for r in out.filter("taken").collect())
    b = sorted(
        r["doc_id"] for r in q_token_budget_mix(spark, sf_dir).filter("taken").collect()
    )
    assert a == b


def test_sketch_stats_bounds(spark, sf_dir):
    """Every sketch must sit inside its published error bound on this
    corpus (deterministic: HLL++ and percentile_approx are seed-free
    deterministic aggregates in Spark)."""
    from ocr_parallel_spark.queries_catalog import q_sketch_stats

    rows = q_sketch_stats(spark, sf_dir).collect()
    assert rows, "no event_type groups"
    for r in rows:
        assert r.hll_ok and r.p50_ok and r.p90_ok, r
        assert r.n_events >= r.n_users_exact >= 1
        assert r.p50_exact <= r.p90_exact


def test_weighted_sample_biases_toward_weight(spark, sf_dir):
    """Efraimidis-Spirakis with w = n_chars: the kept sample's mean
    length must exceed the stratum's corpus mean (the whole point of
    weighting), exactly 20 kept per stratum, ranks dense 1..20, and the
    sample is reproducible."""
    from ocr_parallel_spark.queries_catalog import q_weighted_sample

    out = q_weighted_sample(spark, sf_dir)
    per = out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"),
        F.max("sample_rank").alias("mx"),
        F.min("sample_rank").alias("mn"),
        F.avg("n_chars").alias("mean_kept"),
    )
    for r in per.collect():
        assert r.k == 20 and r.mn == 1 and r.mx == 20, r
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(F.avg("n_chars").alias("mean_all"))
    )
    joined = per.join(corpus, "lang").collect()
    assert joined
    # every stratum's kept mean exceeds its corpus mean on this corpus
    assert all(r.mean_kept > r.mean_all for r in joined), joined
    # deterministic re-run
    a = sorted((r.lang, r.doc_id) for r in out.collect())
    b = sorted((r.lang, r.doc_id) for r in q_weighted_sample(spark, sf_dir).collect())
    assert a == b


def test_dsir_importance_separates_target_language(spark, sf_dir):
    """DSIR with target = the 'en' slice: English docs must score
    higher importance (per gram) than non-English docs on average —
    otherwise the log-ratio direction is wrong."""
    from ocr_parallel_spark.queries_catalog import q_dsir_weights

    out = q_dsir_weights(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    j = out.join(docs, "doc_id").filter(F.col("n_grams") > 0)
    per_lang = {
        r.grp: r.m
        for r in j.groupBy((F.col("lang") == "en").alias("grp"))
        .agg(F.avg(F.col("importance_micro") / F.col("n_grams")).alias("m"))
        .collect()
    }
    assert per_lang[True] > per_lang[False], per_lang
    # deterministic re-run
    a = sorted((r.doc_id, r.importance_micro) for r in out.collect())
    b = sorted((r.doc_id, r.importance_micro) for r in q_dsir_weights(spark, sf_dir).collect())
    assert a == b


def test_bm25_ranks_term_rich_docs(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_bm25_search

    rows = q_bm25_search(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {"q1", "q2", "q3"}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert len(rs) <= 10
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        # scores non-increasing with rank
        scores = [r.score_micro for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
        # the top hit actually contains at least one query term
        terms = {"q1": ["hash", "join", "merge"],
                 "q2": ["window", "stream", "batch"],
                 "q3": ["scan", "filter", "column"]}[q]
        toks = docs[rs[0].doc_id].split()
        assert any(t in toks for t in terms)


def test_robots_parser_groups_and_semantics(spark):
    from ocr_parallel_spark.functions.robots import apply_robots, parse_robots

    robots = spark.createDataFrame(
        [
            # consecutive UA lines share ONE group: rules apply to both
            ("a.com", "User-agent: Foo\nUser-agent: *\nDisallow: /x\n"),
            # star group closed by a second UA line: /y rule is Foo-only
            ("b.com", "User-agent: *\nDisallow: /x\nUser-agent: Foo\nDisallow: /y\n"),
            # comments and blank lines ignored; CRLF endings fine
            ("c.com", "# hi\r\nUser-agent: *\r\n\r\nDisallow: /z # trailing\r\n"),
        ],
        "host string, robots_txt string",
    )
    rules = {(r.host, r.rule_type, r.prefix) for r in parse_robots(robots).collect()}
    assert rules == {
        ("a.com", "disallow", "/x"),
        ("b.com", "disallow", "/x"),
        ("c.com", "disallow", "/z"),
    }
    urls = spark.createDataFrame(
        [("a.com", "/x/1"), ("b.com", "/y/1"), ("c.com", "/z"), ("d.com", "/x")],
        "host string, path string",
    )
    got = {
        (r.host, r.path): r.disallowed
        for r in apply_robots(urls, parse_robots(robots)).collect()
    }
    assert got == {
        ("a.com", "/x/1"): True,
        ("b.com", "/y/1"): False,  # Foo-only rule must not hit *
        ("c.com", "/z"): True,
        ("d.com", "/x"): False,  # no robots for host -> allowed
    }


def test_robots_longest_match_and_allow_tie(spark):
    from ocr_parallel_spark.functions.robots import apply_robots, parse_robots

    robots = spark.createDataFrame(
        [("e.com", "User-agent: *\nDisallow: /a\nAllow: /a/b\nDisallow: /c\nAllow: /c\n")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [("e.com", "/a/b/1"), ("e.com", "/a/x"), ("e.com", "/c/q")],
        "host string, path string",
    )
    got = {r.path: r.disallowed for r in apply_robots(urls, parse_robots(robots)).collect()}
    # longest match: Allow /a/b beats Disallow /a; equal-length tie on
    # /c: Allow wins per RFC 9309
    assert got == {"/a/b/1": False, "/a/x": True, "/c/q": False}


def test_shard_shuffle_permutation_laws(spark, sf_dir):
    """The training-shard shuffle is a deterministic permutation:
    every input window lands in exactly one (shard_id, shard_pos)
    slot, positions are dense 0..n-1 within each shard, re-running
    gives the identical assignment, and the permutation genuinely
    breaks source order (some shard's pos-ordered win_ids are
    non-monotone — the entire point of shuffling)."""
    from ocr_parallel_spark.operators.chunking import shard_shuffle
    from ocr_parallel_spark.queries_catalog import SHARD_N, q_pack_windows

    wins = q_pack_windows(spark, sf_dir).select("source", "win_id")
    a = shard_shuffle(wins, SHARD_N).collect()
    b = shard_shuffle(wins, SHARD_N).collect()
    key = lambda r: (r.source, r.win_id)
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert {key(r): (r.shard_id, r.shard_pos) for r in a} == {
        key(r): (r.shard_id, r.shard_pos) for r in b
    }
    # exactly-once: the sharded rows ARE the window set
    assert sorted(map(key, a)) == sorted(
        (r.source, r.win_id) for r in wins.collect()
    )
    by_shard: dict[int, list] = {}
    for r in a:
        by_shard.setdefault(r.shard_id, []).append(r)
    assert set(by_shard) <= set(range(SHARD_N))
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.shard_pos)
        assert [r.shard_pos for r in rows] == list(range(len(rows)))
    # rough balance: hash-uniform keys, no shard hoards the corpus
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) <= 4 * (sum(sizes) / len(sizes))
    # the shuffle shuffles: at least one shard's pos-order is not
    # (source, win_id)-order
    assert any(
        [(r.source, r.win_id) for r in rows]
        != sorted((r.source, r.win_id) for r in rows)
        for rows in by_shard.values()
    )


def test_shard_shuffle_null_key_distinct(spark):
    """NULL key columns coalesce inside the shard key instead of being
    dropped: ('a', NULL) and ('a',)-shaped keys must not collide, and
    NULL-source rows still get assigned."""
    from ocr_parallel_spark.operators.chunking import shard_shuffle

    df = spark.createDataFrame(
        [("a", None), (None, 7), ("a", 7)],
        "source string, win_id long",
    )
    rows = shard_shuffle(df, 4).collect()
    assert len(rows) == 3
    assert all(r.shard_id is not None and r.shard_pos is not None for r in rows)


def test_dedup_lines_cms_prefilter_identical_results(spark):
    """The CMS prefilter is a pure optimization: with a grid small
    enough to force collisions, the prefiltered path still returns
    byte-identical results to the exact path (a collision only ADDS a
    candidate — never hides a heavy line)."""
    from ocr_parallel_spark.operators.linededup import dedup_lines

    rows = []
    for d in range(40):
        rows.append((d, 0, "the shared cookie banner line"))
        rows.append((d, 1, f"unique content line number {d}"))
        if d % 2 == 0:
            rows.append((d, 2, "another frequent footer line"))
    lines = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    exact = sorted(map(tuple, dedup_lines(lines, min_count=5).collect()))
    # width 8: collisions guaranteed (3 distinct-ish keys + 40 uniques)
    cms = sorted(
        map(tuple, dedup_lines(lines, min_count=5, cms_width=8).collect())
    )
    wide = sorted(
        map(tuple, dedup_lines(lines, min_count=5, cms_width=65536).collect())
    )
    assert exact == cms == wide and len(exact) == 40
    # sanity: the banners really were dropped, uniques kept
    by_id = {t[0]: t for t in exact}
    assert "cookie" not in by_id[0][3] and "unique content" in by_id[0][3]


def test_shard_shuffle_id_space_exceeds_16_bits(spark):
    """The shard id derives from a 48-bit digest slice: with n_shards
    beyond 65,536 the ids must actually reach the upper range (a 16-bit
    slice would leave every id < 65,536 and ~84% of a 400k-shard layout
    permanently empty)."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.operators.chunking import shard_shuffle

    rows = spark.range(20000).select(
        F.lit("s").alias("source"), F.col("id").alias("win_id")
    )
    ids = shard_shuffle(rows, 1_000_000).agg(
        F.max("shard_id").alias("mx"), F.min("shard_id").alias("mn")
    ).collect()[0]
    assert ids.mx > 65535, f"shard ids capped at 16 bits (max {ids.mx})"
    assert ids.mn >= 0


def test_token_budget_mix_two_level_equals_window(spark, sf_dir):
    """Round-6: token_budget_mix moved its per-source running total from
    a single window task per domain onto the two-level prefix sum. The
    cumulative sums (and therefore the take decisions) must be
    byte-identical to the single-window form, and each source must span
    >1 range partition when the partition count is pinned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocr_parallel_spark.operators.chunking import _two_level_offsets
    from ocr_parallel_spark.operators.classify import normalize_col
    from ocr_parallel_spark.queries_catalog import q_token_budget_mix

    fast = sorted(
        q_token_budget_mix(spark, sf_dir).collect(), key=lambda r: r.doc_id
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", normalize_col("text").alias("norm")
    )
    order_key = F.substring(
        F.sha2(F.concat(F.lit("mix1|"), F.col("doc_id").cast("string")), 256),
        1,
        16,
    )
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("norm"), " ")).cast("long").alias("n_tokens"),
        order_key.alias("_ok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("_ok", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    slow = sorted(
        d.select(
            "doc_id",
            "source",
            "n_tokens",
            cum.cast("long").alias("cum_tokens"),
            (cum <= 500).alias("taken"),
        ).collect(),
        key=lambda r: r.doc_id,
    )
    assert fast == slow and len(fast) > 0
    # scale claim: with a pinned partition count, a source spans >1 task
    off = _two_level_offsets(
        d, "doc_id", "source", num_parts=8, order_cols=["_ok", "doc_id"]
    )
    spans = (
        off.groupBy("source")
        .agg(F.countDistinct("_pack_pid").alias("n_pids"))
        .agg(F.max("n_pids").alias("mx"))
        .collect()[0]
    )
    assert spans.mx > 1, "a source must span multiple range partitions"
