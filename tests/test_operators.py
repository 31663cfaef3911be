"""Operator unit tests against reference-documented semantics.

Each test pins a behavior cited in SURVEY §2 to the reference source
(chunk boundaries, keep-first survivor, token match threshold, dense-range
grouping, status classification).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_parallel_spark.operators.chunking import (
    ordered_concat,
    overlap_chunks,
    pages_from_chunks,
)
from ocr_parallel_spark.operators.classify import classify_status, normalize_col
from ocr_parallel_spark.operators.dedup import keep_first
from ocr_parallel_spark.operators.localization import (
    expand_variants,
    hit_ratio,
    localize,
    match_hits,
    match_texts,
    sql_str,
    tokenize,
)
from ocr_parallel_spark.operators.sessionize import densest_range, sessionize
from ocr_parallel_spark.kernel.normalize import clean_text


def _scores(df, text_col, tokens_cols):
    """F4 scores of ``text_col`` against each array column in
    ``tokens_cols``: ``match_hits`` over the ``match_texts`` columns."""
    texts = df.selectExpr(
        "*", *(f"{e} AS {n}" for n, e in match_texts(text_col, "_").items())
    )
    return texts.selectExpr(*(
        f"{hit_ratio(t, match_hits(t, '_upper', '_wordified'))} AS {t}"
        for t in tokens_cols
    ))


def _pages(spark, n, doc="d1"):
    return spark.createDataFrame(
        [(doc, i + 1, f"page {i + 1} text") for i in range(n)],
        "doc string, page int, text string",
    )


def test_chunking_reference_example(spark):
    """100 pages at 40/5 -> chunks 1-40, 36-75, 71-100 (chunking.py:40-69)."""
    chunks = overlap_chunks(_pages(spark, 100), "doc", "page", "text", 40, 5)
    rows = sorted(
        (r["chunk_index"], r["start_page"], r["end_page"], r["n_rows"])
        for r in chunks.collect()
    )
    assert rows == [(0, 1, 40, 40), (1, 36, 75, 40), (2, 71, 100, 30)]


def test_chunking_single_short_group(spark):
    chunks = overlap_chunks(_pages(spark, 7), "doc", "page", "text", 40, 5)
    rows = chunks.collect()
    assert len(rows) == 1
    assert rows[0]["start_page"] == 1 and rows[0]["end_page"] == 7


def test_chunk_text_join_order(spark):
    chunks = overlap_chunks(_pages(spark, 3), "doc", "page", "text", 40, 5)
    assert chunks.collect()[0]["chunk_text"] == "page 1 text\n\npage 2 text\n\npage 3 text"


def test_pages_from_chunks_distinct_sorted(spark):
    chunks = overlap_chunks(_pages(spark, 100), "doc", "page", "text", 40, 5)
    pages = pages_from_chunks(chunks, "doc", "start_page", "end_page")
    got = sorted(r["page"] for r in pages.collect())
    assert got == list(range(1, 101))  # union of overlapping ranges, distinct


def test_ordered_concat_is_page_order_not_arrival(spark):
    df = spark.createDataFrame(
        [("d", 3, "c"), ("d", 1, "a"), ("d", 2, "b")],
        "doc string, page int, text string",
    ).repartition(3)
    out = ordered_concat(df, "doc", "page", "text")
    assert out.collect()[0]["concat_text"] == "a\n\nb\n\nc"


def test_keep_first_earliest_wins(spark):
    df = spark.createDataFrame(
        [("k1", 2, "late"), ("k1", 1, "early"), ("k2", 5, "only")],
        "k string, ts int, v string",
    )
    out = {r["k"]: r["v"] for r in keep_first(df, ["k"], ["ts"]).collect()}
    assert out == {"k1": "early", "k2": "only"}


def test_tokenize_reference_example(spark):
    """'APARTAMENTO 102 -T3 MZ 12' -> words >= 2 chars + ALL digit runs
    (including the '3' inside 'T3' — text_localization.py:115-139 adds
    every ``\\d+`` run of the raw name regardless of length)."""
    df = spark.createDataFrame([("APARTAMENTO 102 -T3 MZ 12",)], "name string")
    toks = set(df.select(tokenize("name").alias("t")).collect()[0]["t"])
    assert toks == {"APARTAMENTO", "102", "T3", "MZ", "12", "3"}


def test_expand_variants_includes_synonyms(spark):
    df = spark.createDataFrame([("APTO 5",)], "name string")
    syn = {"APTO": ["APARTAMENTO", "APT"], "APARTAMENTO": ["APTO"]}
    out = df.select(
        expand_variants(tokenize("name"), syn).alias("t")
    ).collect()[0]["t"]
    assert "APARTAMENTO" in out and "APTO" in out and "5" in out


def test_expand_variants_reverse_lookup_flips_match(spark):
    """F3 reverse lookup (text_localization.py:159-163): a token that is
    a synonym VALUE pulls in the key and the whole group — and that
    changes a match outcome at threshold 0.6. 'ORDER ARRANGE' raw scores
    1/2 = 0.5 (no match); expanded to {ORDER, ARRANGE, SORT} it scores
    2/3 = 0.667 (match) against text containing 'order' and 'sort'."""
    syn = {"SORT": ["ORDER", "ARRANGE"]}
    df = spark.createDataFrame(
        [("order arrange", "the sort and order of things")], "name string, text string"
    ).select(
        "text",
        tokenize("name").alias("raw"),
        expand_variants(tokenize("name"), syn).alias("exp"),
    )
    row = _scores(df, "text", ["raw", "exp"]).collect()[0]
    assert row.raw < 0.6 <= row.exp

    # forward direction: key token pulls in its values
    out = (
        spark.createDataFrame([("sort",)], "name string")
        .select(expand_variants(tokenize("name"), syn).alias("t"))
        .collect()[0]["t"]
    )
    assert set(out) == {"SORT", "ORDER", "ARRANGE"}


def test_localization_variants_query_shows_flips(spark, sf_dir):
    """The oracle-gated F3 query exposes expansion changing outcomes on
    the corpus in BOTH directions: some (target, doc) pairs flip
    unmatched->matched (reverse lookup) and the dilution direction
    exists too (expanded score below raw score)."""
    from ocr_parallel_spark.queries_catalog import q_localization_variants

    rows = q_localization_variants(spark, sf_dir).collect()
    up = [r for r in rows if not r.matched_raw and r.matched_expanded]
    down = [r for r in rows if r.score_expanded < r.score_raw]
    assert up, "expansion never flipped a match on the corpus"
    assert down, "expansion never diluted a score"


def test_match_threshold_word_and_digit(spark):
    """2 of 3 tokens (0.667 >= 0.6) matches; digit needs word boundary
    (text_localization.py:168-199)."""
    chunks = spark.createDataFrame(
        [
            (0, "THE APARTAMENTO BLOCK MZ IS HERE"),  # 2/3 words
            (1, "number 1025 present"),  # 102 must NOT match inside 1025
        ],
        "chunk_id int, chunk_text string",
    )
    targets = spark.createDataFrame(
        [(1, ["APARTAMENTO", "MZ", "QQQ"]), (2, ["102", "QQQ", "ZZZ"])],
        "target_id int, tokens array<string>",
    )
    hits = localize(targets, chunks, "tokens", "chunk_text", 0.6)
    got = {(r["target_id"], r["chunk_id"]) for r in hits.collect()}
    assert (1, 0) in got
    assert (2, 1) not in got  # word-boundary guard on digits


def test_sessionize_gap3(spark):
    """Runs split on gap > 3: [1,2,3, 8,9, 20] -> 3 runs; densest = first
    (text_localization.py:646-680: strict > keeps the earlier run)."""
    df = spark.createDataFrame(
        [("u", p) for p in [1, 2, 3, 8, 9, 20]], "u string, page int"
    )
    sess = sessionize(df, "u", "page", gap=3)
    n_sessions = sess.select("session_id").distinct().count()
    assert n_sessions == 3
    best = densest_range(df, "u", "page", gap=3).collect()[0]
    assert (best["run_start"], best["run_end"], best["run_count"]) == (1, 3, 3)


def test_densest_tie_keeps_earlier(spark):
    df = spark.createDataFrame(
        [("u", p) for p in [1, 2, 10, 11]], "u string, page int"
    )
    best = densest_range(df, "u", "page", gap=3).collect()[0]
    assert (best["run_start"], best["run_end"]) == (1, 2)


def test_classify_status_markers(spark):
    df = spark.createDataFrame(
        [("x", "real text"), ("y", ""), ("z", " Inmueble No Encontrado "), ("w", None)],
        "k string, t string",
    )
    got = {r["k"]: r["s"] for r in df.select("k", classify_status("t").alias("s")).collect()}
    assert got == {"x": "found", "y": "not_found", "z": "not_found", "w": "error"}


def test_classify_status_lowercases_only_marker_sized_texts(spark):
    """The length guard never changes a status: a text longer than the
    longest marker cannot lowercase to one (lowercasing never shortens,
    and 'İ' grows), so the statuses equal lowercasing every text."""
    from ocr_parallel_spark.operators.classify import NOT_FOUND_MARKERS

    longest = max(NOT_FOUND_MARKERS, key=len)
    cases = {
        "exact": ("  " + longest.title() + "  ", "not_found"),
        "longer": (longest.upper() + "S", "found"),
        "dotted": ("İ" + longest[1:].upper(), "found"),
        "blank": ("   ", "not_found"),
        "tab": ("\t", "found"),
        "null": (None, "error"),
    }
    df = spark.createDataFrame(
        [(k, t) for k, (t, _) in cases.items()], "k string, t string"
    )
    lowered = F.lower(F.trim(F.col("t")))
    every_text_lowered = (
        F.when(F.col("t").isNull(), "error")
        .when(lowered == "", "not_found")
        .when(lowered.isin(*NOT_FOUND_MARKERS), "not_found")
        .otherwise("found")
    )
    got = {
        r["k"]: (r["s"], r["ref"])
        for r in df.select(
            "k",
            classify_status("t").alias("s"),
            every_text_lowered.alias("ref"),
        ).collect()
    }
    assert got == {k: (want, want) for k, (_, want) in cases.items()}


def test_normalize_col_matches_kernel(spark):
    """JVM normalize chain byte-equals the Python kernel chain."""
    samples = [
        "a\\nb\twith  spaces\nand lines ",
        "  leading and trailing  ",
        "multi\n\n\nnewlines\\n\\nhere",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["n"] for r in df.select(normalize_col("t").alias("n")).collect()]
    assert got == [clean_text(s) for s in samples]


def test_canonical_url_rules(spark):
    from ocr_parallel_spark.functions.urls import canonical_url

    cases = [
        ("HTTPS://WWW.Ex.COM/Page/1", "https://www.ex.com/Page/1"),
        ("https://ex.com/a/", "https://ex.com/a"),
        ("https://ex.com///", "https://ex.com"),
        ("https://ex.com/a#frag", "https://ex.com/a"),
        ("https://ex.com/a?utm_source=x", "https://ex.com/a"),
        ("https://ex.com/a?b=2&a=1", "https://ex.com/a?a=1&b=2"),
        (
            "HTTP://Ex.com/a?utm_campaign=c&z=9&gclid=g&a=1#x",
            "http://ex.com/a?a=1&z=9",
        ),
        ("https://ex.com/CaseSensitivePath", "https://ex.com/CaseSensitivePath"),
        ("https://ex.com/a?ref=tw", "https://ex.com/a"),
        ("https://ex.com/a?refresh=1", "https://ex.com/a?refresh=1"),  # not 'ref'
        ("https://ex.com/a?gclid", "https://ex.com/a"),  # valueless tracker
        ("HTTPS://Ex.com?p=1", "https://ex.com?p=1"),  # query right after host
        ("https://ex.com/a/\n", "https://ex.com/a/\n"),  # \z: no pre-newline strip
        # \z in TRACKING_PARAM_RE: "gclid\n" is NOT the valueless tracker
        # "gclid" (Java's '$' would have matched before the newline and
        # dropped it, silently diverging from the RE2/DuckDB oracle)
        ("https://ex.com/a?gclid\n", "https://ex.com/a?gclid\n"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


# ------------------------------------------------- connected components


def test_connected_components_doubles_past_plain_propagation(spark):
    """A 200-node chain has diameter 199: plain one-hop label
    propagation needs 199 rounds, pointer doubling needs ~8 (window
    grows as 2^(t+1)-2). max_rounds=9 therefore passes ONLY if the
    doubling step works."""
    from ocr_parallel_spark.operators.graph import connected_components

    edges = spark.range(199).selectExpr("id AS src", "id + 1 AS dst")
    out = connected_components(edges, max_rounds=9)
    rows = out.collect()
    assert len(rows) == 200
    assert all(r.component == 0 for r in rows)


def test_connected_components_multi_component_and_isolated(spark):
    from pyspark.sql import functions as F

    from ocr_parallel_spark.operators.graph import connected_components

    # components {0,1,2}, {10,11} (duplicate + reversed edges), isolated 99
    edges = spark.createDataFrame(
        [(0, 1), (2, 1), (10, 11), (11, 10), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,), (10,), (11,), (99,)], "node long")
    got = {
        r.node: r.component
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 99: 99}


def test_dup_components_planted_graph(spark, sf_dir):
    from ocr_parallel_spark.queries_catalog import q_dup_components

    rows = q_dup_components(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    assert all(r.component == r.doc_id - r.doc_id % 8 for r in rows)


def test_minhash_clusters_match_union_find(spark, sf_dir):
    """The distributed component labeling over REAL verified near-dup
    pairs must equal a driver-side union-find ground truth (exact min-
    label components), and chains must collapse to one cluster."""
    from ocr_parallel_spark.queries_catalog import (
        q_minhash_clusters,
        q_minhash_verified_pairs,
    )

    pairs = [
        (r.id_a, r.id_b) for r in q_minhash_verified_pairs(spark, sf_dir).collect()
    ]
    assert pairs, "fixture produced no verified near-dup pairs"
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth: dict[str, list] = {}
    for n in parent:
        truth.setdefault(find(n), []).append(n)
    got = {
        r.rep_url: sorted(r.member_urls.split(","))
        for r in q_minhash_clusters(spark, sf_dir).collect()
    }
    want = {min(v): sorted(v) for v in truth.values()}
    assert got == want


def test_pagerank_matches_pure_python_recurrence(spark, sf_dir):
    """The distributed integer PageRank must equal a driver-side pure-
    Python run of the identical recurrence — exact, not approximate —
    and rank mass must concentrate on higher in-degree nodes."""
    from ocr_parallel_spark.queries_catalog import q_pagerank

    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    edges = set()
    for v in range(n):
        for dst in ((v * 3 + 1) % n, (v * 7 + 3) % n):
            if dst != v:
                edges.add((v, dst))
    outdeg: dict[int, int] = {}
    incoming: dict[int, list] = {}
    for s, t in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
        incoming.setdefault(t, []).append(s)
    scale, d = 10**9, 85
    base = (scale * (100 - d)) // (100 * n)
    rank = {v: scale // n for v in range(n)}
    for _ in range(10):
        rank = {
            v: base
            + (d * sum(rank[u] // outdeg[u] for u in incoming.get(v, []))) // 100
            for v in range(n)
        }
    got = {r.doc_id: r.rank_mi for r in q_pagerank(spark, sf_dir).collect()}
    assert got == rank
    # sanity: an in-degree-0 node (if any) sits at the teleport floor,
    # and the max-rank node has above-average in-degree
    top = max(got, key=got.get)
    avg_in = sum(len(v) for v in incoming.values()) / n
    assert len(incoming.get(top, [])) >= avg_in


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """dangling='redistribute' must conserve total rank mass (within
    floor-division dust), where the teleport default visibly leaks the
    dangling node's share each iteration."""

    from ocr_parallel_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    tele = sum(
        r.rank_mi for r in pagerank_int(edges, nodes=nodes).collect()
    )
    redis = sum(
        r.rank_mi
        for r in pagerank_int(
            edges, nodes=nodes, dangling="redistribute"
        ).collect()
    )
    scale = 10**9
    assert redis > tele
    assert abs(redis - scale) < scale // 100  # conserved within 1%
    assert tele < scale * 0.9  # the leak the option exists to fix
    with pytest.raises(ValueError, match="dangling"):
        pagerank_int(edges, nodes=nodes, dangling="bogus")


# ---------------------------------------------------- span surgery (Lee et al.)


def test_excise_repeated_spans_removes_only_non_canonical_copies(spark):
    from ocr_parallel_spark.operators.dedup import excise_repeated_spans

    span = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    rows = [
        (1, "u1 u2 u3 u4 u5 u6 u7 u8"),              # unique, untouched
        (2, "p1 p2 p3 " + span),                      # canonical owner
        (3, "q1 q2 q3 q4 " + span),                   # non-canonical copy
        (4, "w1 w2"),                                 # shorter than window
        (5, None),                                    # NULL text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, norm string")
    out = {r.doc_id: r for r in
           excise_repeated_spans(docs, "norm", "doc_id", w=5).collect()}
    assert len(out) == 5
    # unique and short docs unchanged
    assert out[1].deduped_text == rows[0][1] and out[1].n_removed == 0
    assert out[4].deduped_text == "w1 w2" and out[4].n_removed == 0
    assert out[5].deduped_text == "" and out[5].n_removed == 0
    # the min-id owner keeps its copy byte-for-byte
    assert out[2].deduped_text == rows[1][1] and out[2].n_removed == 0
    # the non-canonical copy loses EXACTLY the shared 10-token span:
    # in-span windows (6 of them) cover span tokens; boundary windows
    # mix the differing prefixes and are not shared
    assert out[3].deduped_text == "q1 q2 q3 q4"
    assert out[3].n_removed == 10 and out[3].n_tokens == 14


def test_excise_repeated_spans_three_copies_one_owner(spark):
    """With three copies, the one min-id owner keeps the span and BOTH
    later copies lose it — removal never cascades onto the canon."""
    from ocr_parallel_spark.operators.dedup import excise_repeated_spans

    span = "t1 t2 t3 t4 t5 t6 t7"
    docs = spark.createDataFrame(
        [(10, "a1 a2 " + span), (20, "b1 b2 b3 " + span), (30, "c1 " + span)],
        "doc_id long, norm string",
    )
    out = {r.doc_id: r for r in
           excise_repeated_spans(docs, "norm", "doc_id", w=4).collect()}
    assert out[10].n_removed == 0
    assert out[20].deduped_text == "b1 b2 b3" and out[20].n_removed == 7
    assert out[30].deduped_text == "c1" and out[30].n_removed == 7


def test_normalize_col_matches_kernel_on_unicode_whitespace(spark):
    """The JVM normalize twin must be byte-equal to the kernel's
    clean_text INCLUDING Unicode whitespace: Java's default \\s is
    ASCII-only, so NBSP/thin-space/ideographic-space would survive the
    collapse and split sha-256 content keys between the two paths.
    WS_CLASS carries Python re's exact \\s set; this sweeps every
    character in it plus a mixed torture string."""
    import re

    from ocr_parallel_spark.kernel.normalize import clean_text
    from ocr_parallel_spark.operators.classify import WS_CHARS, normalize_col

    # the class IS Python's \\s over the BMP — if Python's definition
    # ever moves, this catches the drift at the source
    assert set(WS_CHARS) == {
        chr(i) for i in range(0x11000) if re.match(r"\s", chr(i))
    }
    cases = ["x" + "y".join(WS_CHARS) + "z",
             "A\u00a0B   C\u3000D\u2009 E\\nF\nG  H\u202fI ",
             "", " ", "\u00a0", "plain ascii  text"]
    got = [
        r.n
        for r in spark.createDataFrame([(s,) for s in cases], "t string")
        .select(F.coalesce(normalize_col("t"), F.lit("")).alias("n"))
        .collect()
    ]
    assert got == [clean_text(s) for s in cases]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_sql_str_reads_back_verbatim(spark, escaped):
    """Text spliced into SQL by ``sql_str`` (markers, the word-class
    regex) reads back as itself whatever the parser's escape mode, and
    ``${...}`` is never substituted."""
    texts = [
        "", "plain", "it's", "back\\slash", "${env:HOME}", "${spark.app.name}",
        "$", "new\nline", "ÑANDÚ 😀", "'\\$'",
    ]
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        row = spark.range(1).selectExpr(
            *(f"{sql_str(t)} AS c{i}" for i, t in enumerate(texts))
        ).collect()[0]
    finally:
        spark.conf.set(key, prev)
    assert list(row) == texts


def test_digit_boundary_matches_python_word_class(spark):
    """Digit tokens bound by the reference's Python \\b (Unicode word
    chars): an accented letter flush against the digits is NOT a
    boundary, so '123' must not hit 'CESI\u00d3N123' — an ASCII word
    class would space the accented letter out and invent the boundary —
    while punctuation/space-bounded digits still hit."""
    rows = [
        ("CESI\u00d3N123 TRAS", 0.0),   # digit glued to accented letter
        ("CESION 123 TRAS", 1.0),        # space-bounded
        ("NO(123)SI", 1.0),              # punctuation-bounded
        ("X1234 Y", 0.0),                # longer number, no boundary
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string").select(
        "t", F.array(F.lit("123")).alias("s")
    )
    got = [r.s for r in _scores(df, "t", ["s"]).collect()]
    assert got == [e for _, e in rows], got
