"""Operator catalog for the driver contract (__spark_entry__.py).

One entry per implemented operator from SURVEY.md §2 + the training-data
toolkit (counts live in README.md — the dicts at the bottom of this
module are the source of truth).
Every SQL-expressible ``queries()`` callable has a DuckDB ``oracle_sql()`` twin
over the same parquet views, with identical column names and types
(counts cast to bigint, ratios rounded to 4 decimals on both sides) so the
driver's order-insensitive value-hash matches. Non-SQL-expressible ops
(SimHash/MinHash marking, the Arrow extraction pipeline) ship without an
oracle — rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_parallel_spark import local_frame
from ocr_parallel_spark.config import MATCH_THRESHOLD
from ocr_parallel_spark.fanout import fan_out
from ocr_parallel_spark.functions.similarity import brute_force_topk
from ocr_parallel_spark.functions.text_quality import (
    fingerprint_prefix,
    quality_features,
    token_count_re,
    token_count_ws,
)
from ocr_parallel_spark.operators.chunking import (
    ordered_concat,
    overlap_chunks,
    pages_from_chunks,
)
from ocr_parallel_spark.operators.classify import classify_status, normalize_col
from ocr_parallel_spark.operators.dedup import dedup_savings, keep_first
from ocr_parallel_spark.operators.localization import localize
from ocr_parallel_spark.operators.neardup import minhash_candidate_pairs
from ocr_parallel_spark.operators.sessionize import densest_range, sessionize
from ocr_parallel_spark.sources.readers import DOCUMENTS_SCHEMA, EMBEDDINGS_SCHEMA

# Chunking parameters for the documents-as-pages oracle tests: small enough
# that every ~25-row source yields multiple overlapping chunks (the
# reference defaults 40/5 are the config defaults; semantics identical).
TCHUNK, TOVERLAP = 8, 2
TSTEP = TCHUNK - TOVERLAP

# The SQL twin of operators.classify.normalize_col (F1 chain). The
# whitespace class is the SAME WS_CLASS string the Spark side compiles
# (\x{h} escapes parse identically in Java regex and RE2) — Python \s
# semantics in all three engines, never the ASCII-only engine default.
from ocr_parallel_spark.operators.classify import WS_CLASS as _WS

NORM_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace("
    f"text, '\\\\n', ' ', 'g'), '\\n', ' ', 'g'), '{_WS}+', ' ', 'g'))"
)

# Inline localization targets (J2): tiny dimension side, broadcast.
TARGETS = [
    (1, ["SPARK", "WINDOW", "JOIN"]),
    (2, ["MERGE", "SORT", "BATCH"]),
    (3, ["CUSTOMER", "LINE", "TABLE"]),
    (4, ["VECTOR", "QUERY", "STREAM"]),
    (5, ["12", "FILTER", "KEY"]),
    (6, ["ZZZNOPE", "QQQMISS", "XXXNONE"]),
]


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(EMBEDDINGS_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out BELOW the normalize projection: the whole catalog's per-row
    # expression work pipelines onto the scan, and a sub-split parquet
    # file would otherwise run it all on ONE core (guide §2.2/§6).
    return fan_out(_documents(spark, sf_dir)).withColumn(
        "norm", normalize_col("text")
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No fan_out: every consumer (sessionize, group_stats, user_rollup,
    # densest_range) immediately re-shuffles by its own key with trivial
    # map-side work, so the extra exchange was pure overhead (measured
    # sessionize 0.41s -> 0.63s; round 6).
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------- queries ---


def q_normalize_text(spark, sf_dir):
    """F1 normalization chain as built-ins (text_cleaning.py:6-37)."""
    return _docs(spark, sf_dir).select("doc_id", F.col("norm").alias("norm_text"))


def q_status_classify(spark, sf_dir):
    """P2 not-found classifier (extractor_service.py:145-157)."""
    return _docs(spark, sf_dir).select(
        "doc_id", classify_status("norm").alias("status")
    )


def q_content_hash_dedup(spark, sf_dir):
    """D4 exact content dedup: sha-256 over normalized text, keep-first by
    doc_id (deduplication.py:24-61 keep-first semantics on content)."""
    d = _docs(spark, sf_dir).withColumn("content_sha256", F.sha2(F.col("norm"), 256))
    w = Window.partitionBy("content_sha256").orderBy("doc_id")
    return d.select(
        "doc_id",
        "content_sha256",
        (F.row_number().over(w) > 1).alias("is_exact_dup"),
    )


def q_dedup_savings(spark, sf_dir):
    """D3 duplicate accounting (deduplication.py:54-59)."""
    d = _docs(spark, sf_dir).withColumn("content_sha256", F.sha2(F.col("norm"), 256))
    return dedup_savings(d, ["content_sha256"])


def q_keep_first(spark, sf_dir):
    """D2 keep-first dedup window on lineitem: first line per order."""
    # No fan_out: keep_first immediately hash-exchanges by l_orderkey
    # with WindowGroupLimit cutting rows map-side — a prior round-robin
    # exchange of the full table is pure overhead (round 6).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
    # keep-first order is a total order over the output columns —
    # deterministic survivor at any parallelism (the D2 discipline).
    return keep_first(
        li,
        ["l_orderkey"],
        ["l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"],
    ).select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")


def q_mapback_rep(spark, sf_dir):
    """J1 map-back: every row joined to its keep-first representative
    (deduplication.py:64-95 as an equi-join)."""
    d = _docs(spark, sf_dir).withColumn("content_sha256", F.sha2(F.col("norm"), 256))
    w = Window.partitionBy("content_sha256")
    return d.select(
        "doc_id", F.min("doc_id").over(w).alias("rep_doc_id")
    )


def q_ordered_concat(spark, sf_dir):
    """W3 ordered concat per group (chunking.py:103-141)."""
    d = _docs(spark, sf_dir)
    return ordered_concat(d, "source", "doc_id", "norm")


def q_overlap_chunks(spark, sf_dir):
    """W1 overlap chunking (chunking.py:11-72), docs-as-pages per source."""
    d = _docs(spark, sf_dir)
    return overlap_chunks(d, "source", "doc_id", "norm", TCHUNK, TOVERLAP).drop(
        "members"
    )


def q_pages_from_chunks(spark, sf_dir):
    """W2 chunk->pages expansion (chunking.py:75-100): distinct covered
    ids of the even-indexed chunks."""
    chunks = q_overlap_chunks(spark, sf_dir)
    return pages_from_chunks(
        chunks, "source", "start_doc_id", "end_doc_id", F.col("chunk_index") % 2 == 0
    ).select("source", F.col("page").alias("doc_id"))


def q_theta_join_localization(spark, sf_dir):
    """J2 broadcast theta-join targets x docs on token score >= 0.6
    (text_localization.py:202-268; scorer :168-199)."""
    d = _docs(spark, sf_dir).select("doc_id", F.col("norm").alias("chunk_text"))
    targets = local_frame(spark, TARGETS, "target_id int, tokens array<string>")
    hits = localize(targets, d, "tokens", "chunk_text")
    return hits.select(
        "target_id", "doc_id", F.round(F.col("score"), 4).alias("score")
    )


def q_sessionize(spark, sf_dir):
    """A8 gap-based sessionization per user over event ids."""
    e = _events(spark, sf_dir)
    sess = sessionize(e, "user_id", "event_id", gap=3)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
    )


def q_densest_range(spark, sf_dir):
    """A8 densest run per user (text_localization.py:646-680)."""
    e = _events(spark, sf_dir)
    return densest_range(e, "user_id", "event_id", gap=3)


def q_group_stats(spark, sf_dir):
    """A1 batch metrics: per-type count/avg/min/max/sum
    (ocr_service.py:442-519)."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_found_counts(spark, sf_dir):
    """A6 found-count by classified status."""
    d = _docs(spark, sf_dir).withColumn("status", classify_status("norm"))
    return d.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def q_user_rollup(spark, sf_dir):
    """A5 phase-stats rollup analog: per-user totals."""
    e = _events(spark, sf_dir)
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_topk_per_group(spark, sf_dir):
    """W6 caps/limits: first 3 docs per source (slice/limit semantics).
    Reads the raw table (no norm, no fan_out): the window re-shuffles by
    source anyway and the map side carries no expression work."""
    d = _documents(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "doc_id", F.col("rk").cast("long").alias("rk"))
    )


def q_set_union(spark, sf_dir):
    """§2.7 set union/distinct over row sets."""
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("doc_id") % 2 == 0).select("source", "doc_id")
    b = d.filter(F.col("n_chars") > 300).select("source", "doc_id")
    return a.union(b).distinct()


def _with_lang_hits(d):
    """Materialize the token split once and the per-language hit counts
    as columns (the lang case-expression references each count several
    times; built inline the split would re-evaluate per reference)."""
    from ocr_parallel_spark.functions.text_quality import (
        LANG_PRECEDENCE,
        stopword_hits_from_tokens,
        tokens_col,
    )

    d = d.withColumn("_toks", tokens_col(F.col("norm")))
    for lang in LANG_PRECEDENCE:
        d = d.withColumn(
            f"_h_{lang}", stopword_hits_from_tokens(F.col("_toks"), lang)
        )
    return d, {lang: F.col(f"_h_{lang}") for lang in LANG_PRECEDENCE}


def q_langid(spark, sf_dir):
    """Language ID by stopword hits (training-data toolkit): ONE token
    split per row, hit counts as columns, case over attributes."""
    from ocr_parallel_spark.functions.text_quality import detect_lang_from_hits

    d, hits = _with_lang_hits(_docs(spark, sf_dir))
    return d.select("doc_id", detect_lang_from_hits(hits).alias("pred_lang"))


def q_quality(spark, sf_dir):
    """Quality-scoring features (training-data toolkit)."""
    from ocr_parallel_spark.functions.text_quality import tokens_col

    d = _docs(spark, sf_dir).withColumn("_toks", tokens_col(F.col("norm")))
    feats = quality_features("norm", toks=F.col("_toks"))
    return d.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars_norm"),
        feats["n_tokens"].cast("long").alias("n_tokens"),
        F.round(feats["mean_token_len"], 4).alias("mean_token_len"),
        F.round(feats["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(feats["alpha_ratio"], 4).alias("alpha_ratio"),
        F.round(feats["punct_ratio"], 4).alias("punct_ratio"),
    )


def q_token_counts(spark, sf_dir):
    """Token counting: whitespace + regex word-run tokens."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_ws("norm").cast("long").alias("n_ws_tokens"),
        token_count_re("norm").cast("long").alias("n_re_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    """Prefix fingerprint (md5 of first 12 tokens)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", fingerprint_prefix("norm", 12).alias("fp"))


def q_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup pairs within source (training toolkit).
    Exact all-pairs baseline over the first 2500 docs — it grounds the
    LSH scale path (minhash_verified_pairs); all-pairs is O(n^2) by
    definition."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 2500).select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.col("norm"), " ")).alias("toks"),
    )
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = F.round(inter / union, 4)
    # Exact size-ratio prune: J(A,B) >= t implies t*|B| <= |A| <= |B|/t
    # (|A∩B| <= min, |A∪B| >= max). The extra predicate cuts the pair
    # space before the expensive array_intersect without changing the
    # result set — the oracle is the unpruned query.
    na, nb = F.size(F.col("a.toks")), F.size(F.col("b.toks"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (na * F.lit(0.2) <= nb)
            & (nb * F.lit(0.2) <= na),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for queries vec_id < 5 (similarity search
    baseline)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")
    )


# ---- rows-only (no SQL oracle) ----------------------------------------------


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash LSH candidate pairs (D4 near half; Python = one Arrow batch
    stage). Not SQL-expressible -> rows-only check."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), F.col("norm").alias("text")
    )
    return minhash_candidate_pairs(d, "text", "url")


def q_extraction_pipeline(spark, sf_dir):
    """Flagship: synthesized pages -> full extraction pipeline (kernel +
    dedup + near-dup marking). Not SQL-expressible -> rows-only check."""
    from ocr_parallel_spark.pages import synthesize_pages
    from ocr_parallel_spark.pipeline import run_extraction_pipeline

    pages = synthesize_pages(spark, sf_dir).drop("doc_id")
    out = run_extraction_pipeline(pages)
    return out.select(
        "url", "status", "error_type", "text", "content_sha256",
        "is_exact_dup", "is_near_dup",
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (training toolkit): pairs with
    cosine >= 0.9 among the first 1000 vectors — the EXACT all-pairs
    baseline that grounds the LSH scale path (ann_lsh_topk); all-pairs is
    O(n^2) by definition, so production runs bucket first and verify
    exactly within buckets. Unit vectors are precomputed once per row
    (norms never recomputed per pair). Every vec_id % 100 == 0 row is
    REPLACED by a planted near-constant vector (base 100, tiny per-id
    phase shift) so the >= 0.9 band provably fires: random synthetic
    embeddings never reach 0.9 cosine, and round 3 showed the gate was
    vacuous (0 rows on both sides asserts nothing). The oracle applies
    the IDENTICAL planting, so the gate now pins C(k,2) true pairs per
    scale."""
    from ocr_parallel_spark.functions.similarity import dot, norm

    planted = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: F.lit(100.0)
        + ((F.expr("vec_id div 100") + j) % 5).cast("double"),
    )
    emb = (
        fan_out(_embeddings(spark, sf_dir))
        .filter(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.when(F.col("vec_id") % 100 == 0, planted)
            .otherwise(F.col("embedding").cast("array<double>"))
            .alias("v"),
        )
        .withColumn("_n", norm(F.col("v")))
        .filter(F.col("_n") > 0)
        .select(
            "vec_id",
            F.transform(F.col("v"), lambda x: x / F.col("_n")).alias("u"),
        )
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(dot(F.col("a.u"), F.col("b.u")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.9)
    )


def _matched_pages(spark, sf_dir) -> DataFrame:
    """(target_id, source, doc_id, norm) of every member page of a chunk
    the target matches (chunk (W1) -> localize (J2) -> chunk -> pages
    (W2)); a page in two matching chunks appears twice."""
    chunks = overlap_chunks(_docs(spark, sf_dir), "source", "doc_id", "norm", TCHUNK, TOVERLAP)
    targets = local_frame(spark, TARGETS, "target_id int, tokens array<string>")
    return localize(targets, chunks, "tokens", "chunk_text").selectExpr(
        "target_id", "source", "inline(members)"
    )


def _concat_pages(pages: DataFrame, cap: int | None = None) -> DataFrame:
    """Ordered concat (W3) of each (target_id, source)'s distinct pages,
    the lowest ``cap`` page numbers when capped, and their count."""
    kept = "array_sort(collect_set(struct(doc_id, norm)))"
    if cap is not None:
        kept = f"slice({kept}, 1, {cap})"
    return pages.groupBy("target_id", "source").agg(
        F.expr(f"{kept} AS _pages")
    ).selectExpr(
        "target_id",
        "source",
        "concat_ws(repeat(char(10), 2), transform(_pages, s -> s.norm)) AS refined_text",
        "CAST(size(_pages) AS BIGINT) AS n_pages",
    )


def q_full_process(spark, sf_dir):
    """SURVEY §3.3 composite: chunk (W1) -> localize (J2) -> chunk->pages
    (W2) -> ordered concat (W3) per matched target. A matching chunk's
    pages are its members, so they never leave the chunk's source. One
    broadcast join; the reference's whole full-process endpoint as a
    single logical plan."""
    return _concat_pages(_matched_pages(spark, sf_dir))


def q_full_process_capped(spark, sf_dir):
    """§3.3 composite with the reference's W6 refinement cap applied: at
    most 20 pages per matched target (MAX_PAGES_WITHOUT_BOUNDARIES,
    text_localization.py:685-705), keeping the LOWEST page numbers — the
    reference's deterministic truncation — before the ordered concat."""
    return _concat_pages(_matched_pages(spark, sf_dir), cap=20)


def _shingles(norm_col, k: int = 3):
    """Distinct word k-shingles of a normalized text column — the exact
    set the MinHash signature approximates (kernel/simhash.py)."""
    toks = F.split(norm_col, " ")
    n = F.size(toks)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_minhash_recall(spark, sf_dir):
    """Driver-visible recall gate for the MinHash LSH scale path: plant
    drifted near-copies (known ground truth), compute the EXACT
    shingle-Jaccard truth set (>= 0.5) — which the oracle recomputes in
    SQL — and assert LSH candidate recall >= 0.9 as an exact-checked row.
    Only oracle-computable numbers are emitted; the recall itself is
    pinned as a boolean threshold (the approximate side cannot run in
    SQL, its pass/fail can)."""
    base = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "norm")
    )
    drifted = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("norm"), F.lit(" drift tail token")).alias("norm"),
    )
    corpus = base.unionByName(drifted).select(
        F.col("doc_id").cast("string").alias("url"), F.col("norm").alias("text")
    )
    sh = corpus.select("url", _shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("url").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("url").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter((union > 0) & (inter * 2 >= union))  # jaccard >= 0.5 exact
        .select("id_a", "id_b")
    )
    cands = minhash_candidate_pairs(corpus, "text", "url")
    hits = truth.join(cands, ["id_a", "id_b"], "left_semi")
    return (
        corpus.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_docs",
            "n_truth",
            F.when(F.col("n_truth") == 0, F.lit(True))
            .otherwise(F.col("_n_hit") * 10 >= F.col("n_truth") * 9)
            .alias("recall_ok"),
        )
    )


def q_ann_recall(spark, sf_dir):
    """Driver-visible recall gate for both ANN scale paths: brute-force
    top-5 for 10 queries is the truth (its size is recomputed by the SQL
    oracle); sign-LSH (4 tables x 4 planes, 4 query-directed probes) and
    IVF (k-means cells, nprobe 4) recall against it are pinned at
    >= 0.7. Measured recall on this corpus: LSH 0.76/0.82/0.86 at
    sf0.001/0.01/0.1 — meets or beats the probe-free 8-table config
    (0.78/0.76/0.76) at about half the candidate-generation cost — and
    IVF 0.86-0.88; both deterministic (literal planes/centroids), so the
    gate goes red on genuine degradation, not noise.
    tests/test_multimodal.py pins the same floors."""
    from ocr_parallel_spark.functions.similarity import (
        ivf_topk,
        kmeans_centroids,
        lsh_topk,
    )

    emb = _embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries_df, k=5).select("query_id", "vec_id")
    lsh = lsh_topk(
        emb, queries_df, k=5, dim=64, n_planes=4, n_tables=4, n_probes=4
    ).select("query_id", "vec_id")
    ivf = ivf_topk(
        emb, queries_df, kmeans_centroids(emb, n_cells=8), k=5, nprobe=4
    ).select("query_id", "vec_id")
    lsh_hits = exact.join(lsh, ["query_id", "vec_id"], "left_semi")
    ivf_hits = exact.join(ivf, ["query_id", "vec_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(lsh_hits.agg(F.count(F.lit(1)).alias("_lsh")))
        .crossJoin(ivf_hits.agg(F.count(F.lit(1)).alias("_ivf")))
        .select(
            "n_truth",
            (F.col("_lsh") * 10 >= F.col("n_truth") * 7).alias("lsh_recall_ok"),
            (F.col("_ivf") * 10 >= F.col("n_truth") * 7).alias("ivf_recall_ok"),
        )
    )


def q_url_canonicalize(spark, sf_dir):
    """Canonical-URL dedup (crawl key canonicalization, the CC-scale
    analog of the reference's request-key dedup D1): deterministic noisy
    url variants (case-variant host, tracking params, unsorted query,
    fragment, trailing slash) -> canonical form -> keep-first alias
    marking. Pure expressions; the oracle re-derives every rule."""
    from ocr_parallel_spark.functions.urls import canonical_url

    docs = fan_out(_documents(spark, sf_dir))
    base = F.concat(
        F.lit("HTTPS://Site-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/Path/"),
        (F.col("doc_id") % 50).cast("string"),
    )
    variant = F.col("doc_id") % 4
    url = (
        F.when(variant == 1, F.concat(base, F.lit("/")))
        .when(variant == 2, F.concat(base, F.lit("?utm_source=x&b=2&a=1")))
        .when(variant == 3, F.concat(base, F.lit("?a=1&b=2#frag")))
        .otherwise(base)
    )
    d = docs.select("doc_id", url.alias("url")).withColumn(
        "canon_url", canonical_url("url")
    )
    w = Window.partitionBy("canon_url").orderBy("doc_id")
    return d.select(
        "doc_id",
        "canon_url",
        (F.row_number().over(w) > 1).alias("is_url_alias"),
    )


# Boilerplate banners planted by the line-granular curation queries:
# each repeats across ~half the corpus, so line-frequency dedup must
# drop them while keeping every (rare) content line.
BOILER_A = "accept cookies to continue reading this site"
BOILER_B = "subscribe to our newsletter for weekly updates"
LINE_DEDUP_MIN_COUNT = 5


def _doc_lines(spark, sf_dir, docs=None):
    """Shared line synthesis for the line-granular curation queries:
    re-linearize each single-line synthetic doc into 8-token lines
    (functions/curation.py word_lines) and prepend a deterministic
    boilerplate banner at line_no 0. ``docs`` lets a composite caller
    supply an already-materialized (doc_id, norm) frame (round 6)."""
    from ocr_parallel_spark.functions.curation import word_lines

    d = docs if docs is not None else _docs(spark, sf_dir)
    boiler = F.when(F.col("doc_id") % 2 == 0, F.lit(BOILER_A)).otherwise(
        F.lit(BOILER_B)
    )
    lines_arr = F.concat(F.array(boiler), word_lines(F.split(F.col("norm"), " ")))
    # NOT checkpointed (round-6 review): materializing the exploded
    # lines is ~1x corpus bytes of non-fault-tolerant local storage and
    # A/B-measured a wash locally; the columnar re-scan argument in
    # operators/linededup.py wins at scale too.
    return d.select("doc_id", F.posexplode(lines_arr).alias("line_no", "line"))


# CMS gate sizing: 16k columns x 4 rows over the ~tens-of-thousands of
# distinct corpus lines — collisions exist (the min-of-rows matters) but
# the planted banners dominate their cells. Production sizing scales
# width with the heavy-hitter threshold (eps ~ e/width), not key count.
CMS_W = 16384
CMS_D = 4


def q_cms_heavy(spark, sf_dir):
    """Count-Min heavy-hitter discovery (functions/cms.py) over the
    corpus LINE stream — the sketch path to the boilerplate banners that
    line_dedup counts exactly: build the bounded depth x width grid in
    one map-combinable agg, estimate every distinct line, and pin the
    CMS laws per line: est >= true (never undercounts, hence
    'est >= threshold' has no false negatives — the candidate-prefilter
    property) and exactly-reproducible estimates. The oracle replays
    build and estimate cell-for-cell."""
    from ocr_parallel_spark.functions.cms import cms_build, cms_estimate

    lines = _doc_lines(spark, sf_dir).select("line")
    grid = cms_build(lines, "line", CMS_W, CMS_D)
    truth = lines.groupBy("line").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_estimate(truth, "line", grid, CMS_W, CMS_D)
    return est.select(
        "line",
        "true_count",
        "est_count",
        (F.col("est_count") >= F.col("true_count")).alias("over_ok"),
        (F.col("est_count") >= LINE_DEDUP_MIN_COUNT).alias("is_heavy_est"),
    )


def q_line_dedup(spark, sf_dir, docs=None):
    """CCNet-style inter-document line dedup: drop every line occurring
    >= 5 times corpus-wide (the planted cookie/newsletter banners), keep
    the rare content lines, reassemble each doc in order. Generalizes the
    reference's request-key dedup D1/D2 to line granularity; one
    frequency shuffle on sha2(line) + one join-back (operators/
    linededup.py). The oracle re-derives line synthesis, frequencies, and
    the reassembled text byte-for-byte."""
    from ocr_parallel_spark.operators.linededup import dedup_lines

    return dedup_lines(
        _doc_lines(spark, sf_dir, docs), min_count=LINE_DEDUP_MIN_COUNT
    )


def q_line_dedup_cms(spark, sf_dir):
    """Count-Min-PREFILTERED line dedup: identical semantics to
    q_line_dedup — its oracle IS the plain line_dedup SQL — but only
    occurrences whose CMS estimate reaches the threshold enter the
    exact distinct-doc count (operators/linededup.py, cms_width). The
    driver gate thus pins the approximate-prefilter path equal to the
    exact answer: the no-false-negative law doing real work."""
    from ocr_parallel_spark.operators.linededup import dedup_lines

    return dedup_lines(
        _doc_lines(spark, sf_dir),
        min_count=LINE_DEDUP_MIN_COUNT,
        cms_width=CMS_W,
        cms_depth=CMS_D,
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher-style intra-document repetition signals: duplicate-line
    count (docs % 5 == 0 get their first line replanted at the tail) and
    the most frequent word bigram with its count (ties break to the
    lexicographically smallest bigram). Numerator/denominator are emitted
    as exact bigints — no float division anywhere near the hash compare.
    Line/bigram arrays are pure HOF expressions; only the per-doc bigram
    mode needs an explode + keyed aggregation (keys are (doc_id, bigram)
    — perfectly parallel, no hot key at any corpus size)."""
    from ocr_parallel_spark.functions.curation import word_bigrams, word_lines

    d = _docs(spark, sf_dir)
    toks = F.split(F.col("norm"), " ")
    lines = word_lines(toks)
    lines = F.when(
        F.col("doc_id") % 5 == 0, F.concat(lines, F.slice(lines, 1, 1))
    ).otherwise(lines)
    # Both line stats route through ONE explode + keyed aggregation:
    # referencing the interpreted word_lines HOF from two projection
    # columns would rebuild the array twice per row (projection collapse
    # defeats intermediate selects — the documented Catalyst-HOF
    # pitfall); the explode evaluates it exactly once and count/distinct
    # run JVM-side on the keyed stream.
    line_stats = (
        d.select("doc_id", F.explode(lines).alias("_line"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.count(F.lit(1)) - F.count_distinct(F.col("_line"))).alias(
                "n_dup_lines"
            ),
        )
    )
    cnt = (
        d.select("doc_id", F.explode(word_bigrams(toks)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("bn"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bn").desc(), F.col("bigram").asc())
    per_doc = cnt.groupBy("doc_id").agg(F.sum("bn").alias("n_bigrams"))
    top = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("bigram").alias("top_bigram"),
            F.col("bn").cast("long").alias("top_bigram_n"),
        )
    )
    return (
        line_stats.join(per_doc, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_dup_lines").cast("long").alias("n_dup_lines"),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
            F.coalesce(F.col("top_bigram_n"), F.lit(0).cast("long")).alias(
                "top_bigram_n"
            ),
        )
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-rate stratified sampling: keep 25% of 'en'
    docs and 50% of every other language stratum by comparing the first
    two hex chars of sha2('seed42|lang:doc_id') against the stratum's
    threshold. Pure map-side (sampling 100 TB is one scan, zero shuffle)
    and reproducible from the seed alone — re-runs, retries, and the
    DuckDB oracle agree bit-for-bit."""
    from ocr_parallel_spark.functions.curation import stratified_keep

    d = fan_out(_documents(spark, sf_dir))
    bucket, kept = stratified_keep(
        F.col("lang"), F.col("doc_id"), {"en": 0x40}, 0x80, "seed42"
    )
    return d.select("doc_id", "lang", bucket.alias("bucket"), kept.alias("kept"))


def q_sketch_stats(spark, sf_dir):
    """Sketch-based corpus statistics — the 100 TB stats path: per
    event_type, HyperLogLog++ distinct users (approx_count_distinct,
    rsd 0.05) and KLL-style approximate percentiles (percentile_approx,
    accuracy 10000), each gated against the exact answer computed in the
    SAME aggregation. At scale only the sketches run (one map-side
    partial-agg pass, mergeable state, no distinct expand); the exact
    columns exist so the DuckDB oracle can re-derive every number and
    the ok-booleans go red if a sketch drifts outside its error bound
    (HLL: 3-sigma = 15% relative; percentiles: approx must land between
    the exact p±0.01 rank neighbors — a rank-error bound, which is what
    the sketch actually guarantees)."""
    # plain read: A/B measured the fan-out exchange slower than the
    # single-split scan for this partial-agg shape (0.85s vs 1.08s).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users_exact"),
        F.expr("approx_count_distinct(user_id, 0.05)").alias("_hll"),
        F.expr(
            "percentile(value, array(0.49, 0.50, 0.51, 0.89, 0.90, 0.91))"
        ).alias("_ex"),
        F.expr("percentile_approx(value, array(0.5, 0.9), 10000)").alias("_ap"),
    )
    return per.select(
        "event_type",
        "n_events",
        "n_users_exact",
        F.round(F.col("_ex")[1], 4).alias("p50_exact"),
        F.round(F.col("_ex")[4], 4).alias("p90_exact"),
        (
            F.abs(F.col("_hll") - F.col("n_users_exact"))
            <= 0.15 * F.col("n_users_exact")
        ).alias("hll_ok"),
        F.col("_ap")[0].between(F.col("_ex")[0], F.col("_ex")[2]).alias("p50_ok"),
        F.col("_ap")[1].between(F.col("_ex")[3], F.col("_ex")[5]).alias("p90_ok"),
    )


def q_weighted_sample(spark, sf_dir):
    """Weighted reservoir sampling per stratum (Efraimidis-Spirakis,
    public): keep the top-20 docs per language where each doc's key is
    ln(u)/w — u a deterministic uniform from sha2('ws42|lang:doc_id'),
    w = n_chars — so a doc's keep-probability is proportional to its
    length, and the sample is reproducible from the seed alone (re-runs,
    retries, and the DuckDB oracle agree). Equivalent to ranking by
    u^(1/w) (exp is monotonic) without the pow. One scan + one keyed
    window shuffle; WindowGroupLimit cuts non-top rows map-side, so at
    100 TB the shuffle carries ~k rows per stratum per map task, not
    the corpus. The u+1 offset keeps ln() finite at u=0; n_chars >= 1
    in this corpus (min 48) so the weight never divides by zero."""
    # plain read: A/B measured the fan-out exchange slower than the
    # single-split scan here (0.27s vs 0.42s) — the map side is one
    # sha2 + log per row and WindowGroupLimit already cuts pre-shuffle.
    d = _documents(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit("ws42|"),
                        F.col("lang"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    ),
                    256,
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(4294967296.0)
    keyed = d.select(
        "lang", "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("_key")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 20)
        .select(
            "lang",
            "doc_id",
            "n_chars",
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


def q_warc_extract(spark, sf_dir):
    """WARC source round-trip (S-family: the container webtext actually
    ships in): deterministic CC-shaped archives are synthesized from
    the documents table (3 plain + 1 per-record-gzip-member, warcinfo
    heads, sources/warc.py), read back through the one-file-per-task
    binaryFile + mapInPandas record splitter, HTTP framing stripped
    length-wise, and each response payload pinned byte-exactly: the
    DuckDB oracle re-derives url, sha256(body) and the UTF-8 byte
    length straight from documents, so one flipped byte anywhere in
    write -> gzip -> split -> HTTP-strip turns the gate red. warcinfo
    records must be typed (and are filtered here); a doc_id parsed from
    the crawl URI keys the join back."""
    from ocr_parallel_spark.sources.warc import (
        read_warc,
        response_bodies,
        synthesize_warc_fixture,
    )

    fixture = synthesize_warc_fixture(spark, sf_dir)
    return (
        response_bodies(read_warc(spark, fixture))
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.sha2(F.col("body"), 256).alias("payload_sha"),
            F.length("body").cast("long").alias("n_bytes"),
        )
    )


def q_dup_components(spark, sf_dir):
    """General connected components (operators/graph.py) — the cluster
    consolidation step after MinHash/SimHash candidate pairs at scale,
    where plain one-hop label propagation needs diameter rounds. The
    gate plants a graph whose components are analytically known: chain
    edges doc_id -> doc_id+1 within groups of 8 (diameter 7 — strictly
    beyond plain propagation at the operator's default budget were it
    not for pointer doubling, which converges in ~3 rounds) plus a
    redundant long-range edge per full group (7 -> 5 mod 8) to exercise
    multi-edge/cycle handling. Every doc is passed as a node, so
    boundary docs isolated by the max-id truncation keep themselves.
    Oracle: component = doc_id - doc_id % 8 (ids are contiguous from
    0). Convergence is by fixpoint probe, not round budget, so the gate
    goes red if doubling breaks."""
    from ocr_parallel_spark.operators.graph import connected_components

    d = _documents(spark, sf_dir).select("doc_id")
    mx = d.agg(F.max("doc_id").alias("_mx"))
    chain = (
        d.crossJoin(F.broadcast(mx))
        .filter((F.col("doc_id") % 8 != 7) & (F.col("doc_id") + 1 <= F.col("_mx")))
        .select(
            F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
        )
    )
    skip = d.filter(F.col("doc_id") % 8 == 7).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 2).alias("dst")
    )
    cc = connected_components(
        chain.union(skip), nodes=d.select(F.col("doc_id").alias("node"))
    )
    return cc.select(F.col("node").alias("doc_id"), "component")


def q_dsir_weights(spark, sf_dir):
    """DSIR-style data-selection importance weights (Xie et al.,
    'Data Selection for Language Models via Importance Resampling',
    public): hashed word-bigram features; per-bucket log-likelihood
    ratio of the TARGET distribution (here: the corpus's own 'en'
    slice stands in for the target domain) vs the RAW distribution,
    add-one smoothed; a doc's importance is the sum of its bigram
    occurrences' ratios. Scale shape: the ratio table is 256 rows —
    a broadcast literal in all but name — so the per-doc pass is one
    explode + broadcast join + keyed sum; the (doc_id, bucket) rows
    are localCheckpointed because three consumers (raw counts, target
    counts, the per-doc sum) would otherwise re-run the tokenize+sha2
    map work. Ratios are quantized to integer micro-units BEFORE the
    per-doc sum, so the sum is order-independent and the DuckDB oracle
    matches bit-for-bit."""
    from ocr_parallel_spark.functions.curation import word_ngrams

    B = 256
    d = _docs(spark, sf_dir)
    grams = word_ngrams(F.split(F.col("norm"), " "), 2)
    g = (
        d.select("doc_id", "lang", F.explode(grams).alias("gram"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.sha2(F.col("gram"), 256), 1, 4), 16, 10)
                .cast("long")
                % B
            ).alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )
    raw = g.groupBy("bucket").agg(F.count(F.lit(1)).alias("r"))
    tgt = (
        g.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    totals = g.groupBy().agg(
        F.count(F.lit(1)).alias("big_r"),
        F.sum((F.col("lang") == "en").cast("long")).alias("big_t"),
    )
    lam = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("t"), F.lit(0)) + 1)
                        / (F.col("big_t") + float(B))
                    )
                    - F.log((F.col("r") + 1) / (F.col("big_r") + float(B)))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("lam_mi"),
        )
    )
    per_doc = (
        g.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam_mi").alias("importance_micro"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("importance_micro"), F.lit(0))
            .cast("long")
            .alias("importance_micro"),
        )
    )


BM25_QUERIES = [
    ("q1", "hash"), ("q1", "join"), ("q1", "merge"),
    ("q2", "window"), ("q2", "stream"), ("q2", "batch"),
    ("q3", "scan"), ("q3", "filter"), ("q3", "column"),
]


def q_bm25_search(spark, sf_dir):
    """BM25 relevance search over the corpus (Robertson et al., public;
    the Lucene-shaped idf with the +1 floor): a literal query-term table
    broadcasts against the corpus, tf comes from one HOF filter over
    the once-materialized token array, df and the length norm come from
    corpus aggregates. The length norm uses dl*N/sum_dl — exact-integer
    operands into one double division — instead of a pre-averaged
    avgdl, and scores are quantized to micro-units before the top-10
    window, so ranking ties break identically in Spark and DuckDB.
    Scale shape: terms-side broadcast (a query workload is ~KB), one
    keyed shuffle for the (query, doc) sum, WindowGroupLimit for the
    top-k."""
    K1, BB = 1.2, 0.75
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("norm"), " ").alias("toks")
    )
    d = d.select("doc_id", "toks", F.size("toks").alias("dl"))
    stats = d.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    terms = local_frame(spark, BM25_QUERIES, "query_id string, term string")
    hit = (
        d.crossJoin(F.broadcast(terms))
        .select(
            "doc_id",
            "dl",
            "query_id",
            "term",
            F.size(
                F.filter(F.col("toks"), lambda x: x == F.col("term"))
            ).alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    df_t = hit.groupBy("query_id", "term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        hit.join(F.broadcast(df_t), ["query_id", "term"])
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (K1 + 1))
                / (
                    F.col("tf")
                    + K1
                    * (
                        1.0
                        - BB
                        + BB * (F.col("dl") * F.col("n_docs")) / F.col("sum_dl")
                    )
                )
            ).alias("contrib"),
        )
        # quantize PER TERM, then sum integers: a 3-double sum would
        # depend on addition order, which differs across engines
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("contrib") * 1e6, 0).cast("long").alias("contrib_mi"),
        )
    )
    per = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_mi").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "doc_id", "score_micro", F.col("rank").cast("long").alias("rank")
        )
    )


def q_warc_charset(spark, sf_dir):
    """Charset-aware crawl decoding (webtext table stakes — real crawls
    are not UTF-8): a second WARC fixture stripes docs across four
    declaration styles (HTTP-header charset, meta-tag-only latin-1,
    BOM'd UTF-8, BOM'd UTF-16-LE), each text carrying a deterministic
    non-ASCII suffix (the corpus is pure ASCII, which would make every
    charset vacuously right). The reader sniffs with the standard
    precedence (kernel sniff_and_decode: BOM > header > meta > UTF-8)
    and the oracle re-derives the decoded text, its sha and length, and
    the sniffed charset name per doc straight from documents — a wrong
    decode OR a wrong precedence order flips the sha or the charset
    column red."""
    from ocr_parallel_spark.sources.warc import (
        decode_responses,
        read_warc,
        synthesize_charset_fixture,
    )

    fixture = synthesize_charset_fixture(spark, sf_dir)
    return decode_responses(read_warc(spark, fixture)).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "charset",
        F.sha2(F.col("text"), 256).alias("text_sha"),
        F.length("text").cast("long").alias("n_chars"),
    )


ROBOTS_FIXTURE = [
    # host index (doc_id % 7) -> robots.txt body. Covers: prefix rules
    # with longest-match + Allow-on-tie (0), a non-star group preceding
    # the star group (1), empty Disallow = allow-all (2), block-all (3),
    # empty file (4), comments + Allow-beats-shorter-Disallow (5), and a
    # robots with NO star group at all (6).
    (0, "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n"),
    (1, "User-agent: OtherBot\nDisallow: /\n\nUser-agent: *\nDisallow: /p/2\n"),
    (2, "User-agent: *\nDisallow:\n"),
    (3, "User-agent: *\nDisallow: /\n"),
    (4, ""),
    (5, "User-agent: *\n# corpus policy\nAllow: /p/5\nDisallow: /p\n"),
    (6, "User-agent: OtherBot\nDisallow: /\n"),
]


def q_robots_filter(spark, sf_dir):
    """Retroactive robots.txt filtering (RFC 9309 subset — the polite-
    corpus step CC-style pipelines apply at curation time, not crawl
    time): a planted per-host robots corpus is PARSED FOR REAL by
    functions/robots.py (line explode, window-tracked User-agent
    groups, star-group rule extraction) and matched longest-prefix-
    wins/Allow-on-tie against the doc urls; the oracle knows the
    planted rules' intended semantics analytically, so any parsing or
    precedence bug — group tracking, comment stripping, empty-Disallow,
    tie-breaking — flips verdicts red. Urls follow the corpus
    convention host = site-(doc_id%7), path = /p/doc_id."""
    from ocr_parallel_spark.functions.robots import apply_robots, parse_robots

    d = fan_out(_documents(spark, sf_dir)).select(
        "doc_id",
        F.concat(
            F.lit("site-"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.concat(F.lit("/p/"), F.col("doc_id").cast("string")).alias("path"),
    )
    robots = local_frame(
        spark,
        [(f"site-{k}.example.com", txt) for k, txt in ROBOTS_FIXTURE],
        "host string, robots_txt string",
    )
    out = apply_robots(d, parse_robots(robots))
    return out.select("doc_id", "host", "path", "disallowed")


def q_pagerank(spark, sf_dir):
    """Webgraph link analysis: integer-exact PageRank
    (operators/graph.py pagerank_int) over a deterministic planted link
    graph (doc -> (3*doc+1) mod N and doc -> (7*doc+3) mod N — a sparse
    expander-ish digraph with varying in-degrees). Because every
    operation is bigint floor division, the DuckDB oracle can unroll
    the SAME 10-iteration recurrence as chained CTEs and value-hash the
    ranks exactly — a float PageRank could never cross-engine
    hash-match. The iterative Spark loop (join + keyed sum per
    iteration, per-iteration localCheckpoint) is the canonical
    iterative-workload shape alongside dup_components."""
    from ocr_parallel_spark.operators.graph import pagerank_int

    d, edges = _pagerank_edges(spark, sf_dir)
    pr = pagerank_int(edges, nodes=d.select(F.col("doc_id").alias("node")))
    return pr.select(F.col("node").alias("doc_id"), "rank_mi")


def _pagerank_edges(spark, sf_dir):
    """The planted link digraph shared by every pagerank query: doc ->
    (3*doc+1) mod N and doc -> (7*doc+3) mod N, self-loops dropped by
    pagerank_int."""
    d = _documents(spark, sf_dir).select("doc_id")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 3 + 1) % n).alias("dst"),
    ).union(
        d.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
        )
    )
    return d, edges


def q_pagerank_dangling(spark, sf_dir):
    """PageRank with the canonical dangling-mass redistribution: every
    doc_id % 97 == 0 node has its out-edges removed (a crawl frontier
    page whose links were never fetched — at webgraph scale a large
    mass fraction), and each iteration's dangling mass is spread
    uniformly instead of leaking to teleport. Still bigint-exact end
    to end: the per-iteration dangling sum is integer, its div-N share
    enters the same floor-division recurrence, so the DuckDB oracle
    unrolls the identical chain with one scalar dangling subquery per
    iteration and value-hash-matches."""
    from ocr_parallel_spark.operators.graph import pagerank_int

    d, edges = _pagerank_edges(spark, sf_dir)
    edges = edges.filter(F.col("src") % 97 != 0)
    pr = pagerank_int(
        edges,
        nodes=d.select(F.col("doc_id").alias("node")),
        dangling="redistribute",
    )
    return pr.select(F.col("node").alias("doc_id"), "rank_mi")


def q_pagerank_by_host(spark, sf_dir):
    """Host-level authority rollup — the webgraph example feeding
    domain_stats: per-page integer PageRank aggregated to the
    synthesis host (site-{doc_id % 7}.example.com, the same host rule
    domain_stats uses), giving the per-domain rank mass + page count a
    crawl scheduler prioritizes by. Integer ranks sum exactly, so the
    rollup stays value-hash matchable."""
    from ocr_parallel_spark.operators.graph import pagerank_int

    d, edges = _pagerank_edges(spark, sf_dir)
    pr = pagerank_int(edges, nodes=d.select(F.col("doc_id").alias("node")))
    return (
        pr.select(
            F.concat(
                F.lit("site-"),
                (F.col("node") % 7).cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            "rank_mi",
        )
        .groupBy("host")
        .agg(
            F.sum("rank_mi").alias("host_rank_mi"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def q_graph_prior(spark, sf_dir):
    """Webgraph signal feeding curation (VERDICT r4 #7) — the
    composition that closes the extract -> resolve -> pagerank ->
    curate loop: per-doc host-authority prior from the
    pagerank_by_host rollup. Each doc joins its host's total rank
    mass (broadcast — hosts are tiny vs docs) and gets the integer
    cross-multiplied verdict ``graph_keep`` = "my host's average
    per-doc rank >= the corpus average" (host_rank_mi * tot_docs >=
    tot_rank_mi * n_docs — no division, no floats). job_curate
    --graph-prior consumes the same host table as a dup-canonical
    tiebreaker + verdict column; the oracle re-derives the full
    10-iteration integer PageRank AND the join, so the gate pins the
    composition end to end."""
    host_rank = q_pagerank_by_host(spark, sf_dir)
    totals = host_rank.agg(
        F.sum("host_rank_mi").cast("long").alias("_tot_rank"),
        F.sum("n_docs").cast("long").alias("_tot_docs"),
    )
    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("site-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
    )
    return (
        docs.join(F.broadcast(host_rank), "host")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "host",
            F.col("host_rank_mi").cast("long").alias("host_rank_mi"),
            (
                F.col("host_rank_mi") * F.col("_tot_docs")
                >= F.col("_tot_rank") * F.col("n_docs")
            ).alias("graph_keep"),
        )
    )


def q_extract_links(spark, sf_dir):
    """Outlink extraction — the webgraph edge source (feeds
    pagerank_int in production): the kernel's stdlib HTML parser
    collects <a href> targets in document order from the synthesized
    pages. The oracle knows the synthesis rules analytically (variant
    doc_id%3: 1 carries the 3 chrome-nav links, 2 the 3 link-farm
    links, 0 none), so a parser or ordering bug flips rows red — the
    same asymmetric-oracle pattern as robots_filter/warc. PDF/JSON and
    planted-error payloads are excluded by the SAME synthesis modulos
    on both sides (links live in html payloads only). Links are joined
    with a LOSSLESS escape (percent-encode '%' then ',' per href before
    the comma join — join_links_escaped) so an href containing a comma
    can neither corrupt n_links nor merge with its neighbor; n_links is
    counted on the list BEFORE serialization."""
    from ocr_parallel_spark.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir).filter(
        (F.col("doc_id") % 50 != 7)
        & (F.col("doc_id") % 40 != 11)
        & (F.col("doc_id") % 40 != 31)
    )

    import pandas as pd  # noqa: F401

    def links_of(batches):
        import pandas as pd

        from ocr_parallel_spark.kernel.html_extract import (
            extract_links,
            join_links_escaped,
        )

        for pdf in batches:
            parsed = [
                extract_links(bytes(h).decode("utf-8", "replace"))
                for h in pdf["html"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_links": [len(ls) for ls in parsed],
                    "links": [join_links_escaped(ls) for ls in parsed],
                }
            )

    return pages.select("doc_id", "html").mapInPandas(
        links_of, "doc_id long, n_links long, links string"
    )


def _anchor_links(spark, sf_dir):
    """(doc_id, href, anchor) link rows from the synthesized pages —
    the shared front half of q_anchor_text and q_anchor_text_salted.
    One mapInPandas on the scan partitions; anchors pass through the
    kernel's ONE escape rule at emit time so the agg side is a plain
    sort + comma join."""
    from ocr_parallel_spark.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir).filter(
        (F.col("doc_id") % 50 != 7)
        & (F.col("doc_id") % 40 != 11)
        & (F.col("doc_id") % 40 != 31)
    )

    import pandas as pd  # noqa: F401

    def anchors_of(batches):
        import pandas as pd

        from ocr_parallel_spark.kernel.html_extract import (
            escape_link,
            extract_links_with_anchors,
        )

        for pdf in batches:
            ids, hrefs, anchors = [], [], []
            for doc_id, h in zip(pdf["doc_id"], pdf["html"]):
                for href, text in extract_links_with_anchors(
                    bytes(h).decode("utf-8", "replace")
                ):
                    ids.append(doc_id)
                    hrefs.append(href)
                    anchors.append(escape_link(text))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "href": pd.array(hrefs, dtype=str),
                    "anchor": pd.array(anchors, dtype=str),
                }
            )

    return pages.select("doc_id", "html").mapInPandas(
        anchors_of, "doc_id long, href string, anchor string"
    )


def q_anchor_text(spark, sf_dir):
    """Inbound anchor-text aggregation — the classic webgraph
    relevance/quality signal (search engines and LLM-data pipelines
    score a target URL by what OTHER pages' links call it): per target
    href, the inbound-link count and the distinct anchor texts
    (escaped-joined, sorted). Same synthesis exclusions as
    extract_links; the oracle knows each variant's (href, anchor)
    pairs analytically and re-derives the counts with one filtered
    aggregate, so a parser or aggregation bug flips rows red. Scale
    shape: the only exchange is the keyed agg on href — at webgraph
    scale that key is skewed (home pages): q_anchor_text_salted is the
    two-phase skew-safe form, result-equal by oracle."""
    return _anchor_links(spark, sf_dir).groupBy("href").agg(
        F.count(F.lit(1)).cast("long").alias("n_inlinks"),
        F.concat_ws(",", F.array_sort(F.collect_set("anchor"))).alias(
            "anchor_texts"
        ),
    )


def q_anchor_text_salted(spark, sf_dir):
    """Skew-safe anchor-text aggregation (VERDICT r4 #6): plant the
    home-page reality — EVERY eligible page also links "/" — so one
    href carries a whole-corpus hot key, then aggregate it with the
    salted two-phase rollup (operators/extraction.py salted_key
    pattern): partial agg on (href, salt-of-doc_id) spreads the hot
    href over 16 reducers — counts partial-sum, anchors partial
    collect_set — and the final agg on href merges counts and
    flatten-distincts the anchor sets. The oracle is the plain GROUP
    BY recomputed analytically (hot rows included), so the gate proves
    salting changes the exchange shape and NOT the result. Plan
    pinned by tests/test_plans.py::test_anchor_salted_two_stage."""
    links = _anchor_links(spark, sf_dir)
    hot = (
        _documents(spark, sf_dir)
        .select("doc_id")
        .filter(
            (F.col("doc_id") % 50 != 7)
            & (F.col("doc_id") % 40 != 11)
            & (F.col("doc_id") % 40 != 31)
        )
        .select(
            "doc_id",
            F.lit("/").alias("href"),
            F.concat(
                F.lit("home-"), (F.col("doc_id") % 3).cast("string")
            ).alias("anchor"),
        )
    )
    salted = links.unionByName(hot).withColumn(
        "_salt", F.pmod(F.abs(F.hash(F.col("doc_id"), F.lit(42))), F.lit(16))
    )
    partial = salted.groupBy("href", "_salt").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.collect_set("anchor").alias("_an"),
    )
    return partial.groupBy("href").agg(
        F.sum("_n").cast("long").alias("n_inlinks"),
        F.concat_ws(
            ",",
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_an")))),
        ).alias("anchor_texts"),
    )


def q_resolve_links(spark, sf_dir):
    """Outlink RESOLUTION — the step that turns extract_links' relative
    hrefs into absolute webgraph node ids (kernel resolve_links, RFC
    3986 urljoin): per page, the resolved targets against the page's
    own url. Closes the extract -> resolve -> pagerank/host-rollup
    loop. The oracle re-derives each absolute url analytically from the
    synthesis rules (domain = hot vs site-{url_id % 97}, url dups reuse
    doc_id - 9's url), so a resolution bug — dropped host, kept
    relative path, wrong dup base — flips rows red. Same scan shape as
    extract_links: one mapInPandas on scan partitions, nothing else."""
    from ocr_parallel_spark.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir).filter(
        (F.col("doc_id") % 50 != 7)
        & (F.col("doc_id") % 40 != 11)
        & (F.col("doc_id") % 40 != 31)
    )

    import pandas as pd  # noqa: F401

    def resolved_of(batches):
        import pandas as pd

        from ocr_parallel_spark.kernel.html_extract import (
            extract_links,
            join_links_escaped,
            resolve_links,
        )

        for pdf in batches:
            ids, outs, ns = [], [], []
            for doc_id, url, h in zip(pdf["doc_id"], pdf["url"], pdf["html"]):
                links = resolve_links(
                    url,
                    extract_links(bytes(h).decode("utf-8", "replace")),
                )
                ids.append(doc_id)
                ns.append(len(links))
                outs.append(join_links_escaped(links))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "n_links": pd.array(ns, dtype="int64"),
                    "resolved": pd.array(outs, dtype=str),
                }
            )

    return pages.select("doc_id", "url", "html").mapInPandas(
        resolved_of, "doc_id long, n_links long, resolved string"
    )


def _pagerank_oracle_sql(
    n_iter: int = 10,
    d: int = 85,
    scale: int = 10**9,
    edge_filter: str | None = None,
    dangling_redistribute: bool = False,
    final_select: str | None = None,
) -> str:
    """The oracle twin of q_pagerank (+variants): the identical integer
    recurrence unrolled as chained CTEs (recursive CTEs disallow
    aggregates in the recursive member). Explicit BIGINT casts keep
    DuckDB's int32-literal arithmetic from overflowing; SUM() returns
    HUGEINT, which flows through the iterations value-identically and is
    cast back to BIGINT only at the end (the round-1 HUGEINT lesson).
    ``edge_filter`` prunes synthesized edges (plants dangling nodes for
    the redistribute gate); ``dangling_redistribute`` mirrors
    pagerank_int(dangling="redistribute") — one scalar dangling-sum
    subquery per unrolled iteration; ``final_select`` swaps the output
    projection (host rollup etc.)."""
    ef = f" AND ({edge_filter})" if edge_filter else ""
    parts = [
        f"""
        WITH nodes AS (SELECT doc_id AS node FROM documents),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes),
        e AS (
          SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id*3+1) % (SELECT cnt FROM nn) AS dst FROM documents
            UNION ALL
            SELECT doc_id,
                   (doc_id*7+3) % (SELECT cnt FROM nn) FROM documents
          ) WHERE src <> dst{ef}
        ),
        o AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT node,
                      CAST({scale} AS BIGINT) // (SELECT cnt FROM nn) AS rank_mi
               FROM nodes)"""
    ]
    for k in range(1, n_iter + 1):
        if dangling_redistribute:
            extra = (
                f"(SELECT COALESCE(SUM(rank_mi), 0) FROM r{k - 1} "
                "WHERE node NOT IN (SELECT src FROM o)) "
                "// (SELECT cnt FROM nn)"
            )
            mass = f"(COALESCE(s.m, 0) + {extra})"
        else:
            mass = "COALESCE(s.m, 0)"
        # MATERIALIZED is load-bearing in the dangling variant: r{k-1}
        # is referenced twice (inbound join + dangling-sum subquery);
        # DuckDB inlines plain CTEs, which makes the chain's cost
        # double per iteration — 2^10 evaluations by r10.
        parts.append(
            f""",
        r{k} AS MATERIALIZED (
          SELECT nodes.node,
                 (CAST({scale} AS BIGINT) * {100 - d})
                   // (100 * (SELECT cnt FROM nn))
                 + ({d} * {mass}) // 100 AS rank_mi
          FROM nodes LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rank_mi // o.outdeg) AS m
            FROM e JOIN r{k - 1} r ON e.src = r.node
                   JOIN o ON e.src = o.src
            GROUP BY e.dst
          ) s ON nodes.node = s.node
        )"""
        )
    parts.append(
        final_select
        or f"""
        SELECT node AS doc_id, CAST(rank_mi AS BIGINT) AS rank_mi
        FROM r{n_iter}"""
    )
    return "".join(parts)


def _pii_tainted_text() -> F.Column:
    """norm + the deterministic planted email/phone/IPv4 (+ a second
    email on doc_id % 7 == 0) — shared by q_pii_scrub and the curation
    composite so their plantings cannot drift."""
    doc_id = F.col("doc_id")
    pii = (
        F.when(
            doc_id % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                doc_id.cast("string"),
                F.lit("@example.com for details"),
            ),
        )
        .when(
            doc_id % 3 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((doc_id % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" server 10."),
                (doc_id % 256).cast("string"),
                F.lit("."),
                (doc_id % 100).cast("string"),
                F.lit("."),
                (doc_id % 250).cast("string"),
                F.lit(" logged"),
            )
        )
    )
    extra = F.when(doc_id % 7 == 0, F.lit(" or admin@site.org")).otherwise(F.lit(""))
    return F.concat(F.col("norm"), pii, extra)


# The pii taint re-derived in SQL — interpolated into every oracle that
# plants it so the two engines share one definition.
PII_TAINT_SQL = """norm ||
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com for details'
                  WHEN 1 THEN ' call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
                  ELSE ' server 10.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST(doc_id % 100 AS VARCHAR)
                    || '.' || CAST(doc_id % 250 AS VARCHAR) || ' logged'
                END ||
                CASE WHEN doc_id % 7 = 0 THEN ' or admin@site.org'
                     ELSE '' END"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing: plant a deterministic email / phone / IPv4 per doc
    (by doc_id arithmetic), count matches per kind on the original text,
    and emit the redacted text. All patterns live in the Java-regex/RE2
    common subset (functions/curation.py) so Spark and the DuckDB oracle
    tokenize identically; email is replaced first because its character
    class could otherwise swallow an adjacent redaction token's
    neighbors. Pure expressions — scrubbing is scan-speed at any scale."""
    from ocr_parallel_spark.functions.curation import pii_counts, scrub_pii

    d = _docs(spark, sf_dir)
    t = d.select("doc_id", _pii_tainted_text().alias("_t"))
    counts = pii_counts(F.col("_t"))
    return t.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ip"].alias("n_ips"),
        scrub_pii(F.col("_t")).alias("scrubbed"),
    )


def q_dup_weights(spark, sf_dir):
    """Soft dedup (the downweight-don't-drop alternative): per doc, its
    exact-content cluster size and the 1/size training weight in
    integer millis — trainers that keep duplicates but rescale their
    loss contribution read this instead of the keep-first verdict. One
    keyed window on sha2(norm); weight arithmetic is integer division,
    identical in both engines."""
    d = _docs(spark, sf_dir)
    sha = F.sha2(F.coalesce(F.col("norm"), F.lit("")), 256)
    w = Window.partitionBy(sha)
    return d.select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    ).withColumn(
        "weight_milli",
        F.expr("CAST(1000 AS BIGINT) div cluster_size"),
    )


def q_eval_overlap(spark, sf_dir):
    """Per-eval-doc contamination REPORT — the inverse direction of
    q_decontaminate: for each benchmark doc, how many of its distinct
    word 8-grams leak from the (non-bench) corpus, and the leak
    fraction in integer millis. This is the number an eval-integrity
    review reads ('is this benchmark still valid against this
    corpus?'); decontaminate answers the training-side question ('which
    corpus docs must go?'). The BENCH gram set is tiny by nature and
    broadcast; corpus grams stream map-side into the join, and only
    (bench_id, gram) hit pairs reach the distinct+count exchanges."""
    from ocr_parallel_spark.functions.curation import word_ngrams

    d = _docs(spark, sf_dir)
    grams = word_ngrams(F.split(F.col("norm"), " "), 8)
    # NOT checkpointed (round-6 review): materializing the exploded
    # gram table is ~8x corpus bytes of non-fault-tolerant local
    # storage; the bench branch re-explodes only the ~2% eval slice,
    # which is far cheaper at any scale.
    g = d.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
    bg = g.filter(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    totals = bg.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    corp = g.filter(F.col("doc_id") % 50 != 7).select("gram")
    leaked = (
        corp.join(F.broadcast(bg), "gram")
        .select("bench_id", "gram")
        .distinct()
        .groupBy("bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked"))
    )
    return (
        totals.join(leaked, "bench_id", "left")
        .withColumn("n_leaked", F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long"))
        .withColumn(
            "leak_milli",
            F.expr("CAST(1000 * n_leaked AS BIGINT) div n_grams"),
        )
    )


def q_decontaminate(spark, sf_dir, docs=None):
    """Benchmark decontamination (the GPT-3/Gopher eval-overlap step):
    flag every doc sharing at least one word 8-gram with the benchmark
    set (here: docs with doc_id % 50 == 7 stand in for an external eval
    suite). The benchmark side is tiny BY NATURE (eval suites are
    thousands of docs, the corpus is billions), so its distinct-gram set
    is explicitly broadcast — corpus grams never shuffle; the only
    exchange is the per-doc hit count keyed on doc_id. Per-doc grams are
    array_distinct'ed BEFORE the explode so n_hits counts distinct
    shared grams on both sides."""
    from ocr_parallel_spark.functions.curation import word_ngrams

    d = docs if docs is not None else _docs(spark, sf_dir)
    grams = word_ngrams(F.split(F.col("norm"), " "), 8)
    # NOT checkpointed (round-6 review): the bench-gram broadcast side
    # re-explodes only the tiny eval slice; materializing all corpus
    # grams would be ~8x corpus bytes at scale.
    g = d.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
    bench = F.broadcast(
        g.filter(F.col("doc_id") % 50 == 7).select("gram").distinct()
    )
    hits = g.join(bench, "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("doc_id") % 50 == 7).alias("is_bench"),
            F.col("n_hits").isNotNull().alias("contaminated"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def q_token_budget_mix(spark, sf_dir):
    """Corpus mixing under a per-source token budget: within each source
    (domain), order docs by a seeded hash (a deterministic shuffle — no
    'first N by id' crawl-order bias), accumulate token counts, and take
    docs while the running total stays inside the 500-token budget.
    Scale shape (round-6, the r5 verdict's item 3): budget-take is
    order-dependent, but the running total does NOT need one window
    task per domain — the two-level distributed prefix sum from
    pack_sequences (operators/chunking.py _two_level_offsets) computes
    the identical cumulative sums with every window group bounded by
    one range partition, so a mega-domain (the CC reality) spans many
    tasks instead of becoming a straggler/OOM. Offsets are ordered by
    the same (seeded hash, doc_id) total order; the oracle and the
    output are unchanged."""
    from ocr_parallel_spark.operators.chunking import _two_level_offsets

    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split(F.col("norm"), " "))
    order_key = F.substring(
        F.sha2(F.concat(F.lit("mix1|"), F.col("doc_id").cast("string")), 256), 1, 16
    )
    d = d.select(
        "doc_id", "source", n_tokens.cast("long").alias("n_tokens"),
        order_key.alias("_ok"),
    )
    off = _two_level_offsets(d, "doc_id", "source", order_cols=["_ok", "doc_id"])
    cum = F.col("tok_offset") + F.col("n_tokens")
    return off.select(
        "doc_id",
        "source",
        "n_tokens",
        cum.cast("long").alias("cum_tokens"),
        (cum <= 500).alias("taken"),
    )


# Re-exported from functions/curation.py (one definition shared with
# the production job's --quality-filter screen).
from ocr_parallel_spark.functions.curation import (  # noqa: E402
    QC_BUCKETS,
    QC_WEIGHT_MULT,
    QT_BUCKETS,
    QT_MIN_PROB_DEN,
    QT_RATIO,
    QT_TAINTS,
    hashed_quality_scores,
)

# Taint literals inlined into the quality_trained oracle SQL (no quotes
# in the token sets, so direct f-string embedding is safe).
_QT_MOJI = QT_TAINTS["mojibake"]
_QT_LOREM = QT_TAINTS["lorem"]
_QT_PII = QT_TAINTS["pii"]


def q_quality_classifier(spark, sf_dir):
    """Model-based quality filtering plumbing: a linear classifier over
    hashed bag-of-words features (the public fastText shape). Every
    token hashes to one of QC_BUCKETS buckets (same sha2-prefix
    derivation as dsir_weights), the broadcast weight table maps bucket
    -> integer milli-unit weight, and the doc's score is the exact
    bigint SUM of its token weights — duplicates counted, order
    irrelevant (functions/curation.py hashed_quality_scores, shared
    verbatim with job_curate --quality-filter). keep = score_mi >= 0
    compares the raw sum (a mean threshold is the linear comparison
    score_mi >= thr * n_tokens — never a division: Spark's div
    truncates toward zero while DuckDB's // floors, and score sums go
    negative). Plan shape: one explode, one broadcast-hash join, one
    keyed partial-agg shuffle — scan-bound at any corpus size."""
    s = hashed_quality_scores(_docs(spark, sf_dir), "norm", "doc_id")
    return s.select(
        "doc_id",
        "n_tokens",
        "score_mi",
        (F.col("score_mi") >= 0).alias("keep"),
    )


def q_quality_trained(spark, sf_dir):
    """TRAINED quality classifier benchmark (VERDICT r4 #3): plant the
    three real web-corpus failure modes (mojibake runs, lorem/boiler
    repetition, PII-dense footers — functions/curation.py QT_TAINTS) on
    a deterministic third of docs, fit the integer count-contrast
    weight table on the doc_id%5!=0 split (train_quality_weights — no
    floats, no seeds), score the held-out doc_id%5==0 split, and report
    confusion counts with the ann_recall-style integer-compare floors:
    precision and recall must both be >= 0.9 on docs the fit never saw.
    The oracle refits and rescores everything in SQL, so the gate pins
    the TRAINING math, not just the application plumbing."""
    from ocr_parallel_spark.functions.curation import (
        QT_TAINTS,
        train_quality_weights,
        trained_quality_scores,
    )

    taint = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(" " + QT_TAINTS["mojibake"]))
        .when(F.col("doc_id") % 9 == 3, F.lit(" " + QT_TAINTS["lorem"]))
        .when(F.col("doc_id") % 9 == 6, F.lit(" " + QT_TAINTS["pii"]))
        .otherwise(F.lit(""))
    )
    # planted feeds the fit, the held-out scorer, and the label join —
    # three consumers of the same normalize+taint chain; materialize it
    # once (round 6).
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.coalesce(F.col("norm"), F.lit("")), taint).alias("norm"),
        (F.col("doc_id") % 3 == 0).alias("label_low"),
    ).localCheckpoint(eager=False)
    w = train_quality_weights(planted.filter(F.col("doc_id") % 5 != 0))
    evald = planted.filter(F.col("doc_id") % 5 == 0)
    ev = evald.select("doc_id", "label_low").join(
        trained_quality_scores(evald, w), "doc_id"
    )
    pred = F.col("score") > 0
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.when(F.col("label_low") & pred, 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(~F.col("label_low") & pred, 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("label_low") & ~pred, 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return agg.select(
        "n_eval",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("tp * 1000 div (tp + fp)"))
        .cast("long")
        .alias("prec_milli"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("tp * 1000 div (tp + fn)"))
        .cast("long")
        .alias("rec_milli"),
        (F.col("tp") * 10 >= (F.col("tp") + F.col("fp")) * 9).alias(
            "precision_ok"
        ),
        (F.col("tp") * 10 >= (F.col("tp") + F.col("fn")) * 9).alias(
            "recall_ok"
        ),
    )


def _lm_frames(spark, sf_dir):
    """(crawl, reference) for the CCNet-style LM filter benchmark: crawl
    = every doc with the quality_trained taints planted on the
    deterministic doc_id%3==0 third (same %9 cycle as q_quality_trained,
    so the two screens grade the SAME failure modes); reference = the
    UNTAINTED norm text of the other two thirds — the trusted corpus
    CCNet fits its LM on never contains the junk it is meant to catch."""
    taint = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(" " + QT_TAINTS["mojibake"]))
        .when(F.col("doc_id") % 9 == 3, F.lit(" " + QT_TAINTS["lorem"]))
        .when(F.col("doc_id") % 9 == 6, F.lit(" " + QT_TAINTS["pii"]))
        .otherwise(F.lit(""))
    )
    # Materialize (doc_id, norm) ONCE: crawl scoring, the fit's reference
    # split, and the final left join each re-ran the scan + normalize
    # chain, and the optimizer's inferred explode filter (size(positions)
    # > 0 — it embeds the whole normalize chain) was pushed below the
    # fan-out exchange onto the single scan task. The checkpoint is a
    # plan barrier AND a shared materialization: measured 2.6s -> 1.8s
    # at sf0.1 (round 6).
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", F.coalesce(F.col("norm"), F.lit("")).alias("norm"))
        .localCheckpoint(eager=False)
    )
    crawl = base.select(
        "doc_id", F.concat(F.col("norm"), taint).alias("norm")
    )
    ref = base.filter(F.col("doc_id") % 3 != 0)
    return crawl, ref


def q_lm_surprise(spark, sf_dir):
    """CCNet-style n-gram LM quality scoring (functions/lm.py): fit a
    pruned trigram model on the trusted reference split, score every
    crawl doc by integer bit-length surprise — the perplexity filter
    between crawl and training that a bag-of-words classifier cannot
    replace (it catches UNSEEN vocabulary soup, not just learned
    tokens). Per-doc output (n_grams, sum_surprise, avg in sixteenths
    of a bit) is pinned EXACTLY: the oracle replays the whole fit AND
    the scoring in SQL via length(bin(n)) — both engines' bin() is the
    minimal binary string, so floor(log2)+1 agrees bit-for-bit and no
    float ever appears. Plan shape: fit = one explode + two keyed
    partial aggs; scoring = one explode + one hash join against the
    pruned model + one per-doc agg. Scale: the min_count prune drops
    the singleton tail (most of the gram space), making the shipped
    model broadcast-sized long before 100 TB; everything else is
    scan-bound."""
    from ocr_parallel_spark.functions.lm import doc_surprise, fit_trigram_lm

    crawl, ref = _lm_frames(spark, sf_dir)
    model = fit_trigram_lm(ref)
    return doc_surprise(crawl, model).select(
        "doc_id",
        (F.col("doc_id") % 3 == 0).alias("tainted"),
        "n_grams",
        "sum_surprise",
        "surprise_x16",
    )


def q_lm_separation(spark, sf_dir):
    """The measured-behavior gate for the LM filter (ann_recall
    pattern): tainted docs must average >= 1.25x the surprise of clean
    docs. The comparison runs on the floored integer MEANS (bounded
    [16, 384] by the surprise cap), not cross-multiplied sums — at
    billions of docs per class s_taint * n_clean * 4 overflows BIGINT,
    where Spark wraps silently while DuckDB raises, so the sum form
    would break both the gate and engine-exactness exactly at the
    corpus sizes the filter targets. Both engines floor the same
    means, so the gate stays engine-identical; the <= 1/16-bit floor
    loss is noise against the 1.25 floor vs measured 1.5-2.3x at
    sf0.001/0.01/0.1. Per-doc values are already exact via
    lm_surprise."""
    s = q_lm_surprise(spark, sf_dir).filter(F.col("n_grams") > 0)
    agg = s.agg(
        F.sum(F.when(~F.col("tainted"), 1).otherwise(0))
        .cast("long")
        .alias("n_clean"),
        F.sum(F.when(F.col("tainted"), 1).otherwise(0))
        .cast("long")
        .alias("n_taint"),
        F.sum(F.when(~F.col("tainted"), F.col("surprise_x16")).otherwise(0))
        .cast("long")
        .alias("s_clean"),
        F.sum(F.when(F.col("tainted"), F.col("surprise_x16")).otherwise(0))
        .cast("long")
        .alias("s_taint"),
    )
    return agg.select(
        "n_clean",
        "n_taint",
        F.when(F.col("n_clean") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("s_clean div n_clean"))
        .cast("long")
        .alias("mean_clean_x16"),
        F.when(F.col("n_taint") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("s_taint div n_taint"))
        .cast("long")
        .alias("mean_taint_x16"),
        (
            (F.col("n_clean") > 0)
            & (F.col("n_taint") > 0)
            & (
                F.expr("s_taint div n_taint") * 4
                >= F.expr("s_clean div n_clean") * 5
            )
        ).alias("sep_ok"),
    )


def q_lm_terciles(spark, sf_dir):
    """CCNet's head/middle/tail corpus split: per language, cut the
    scored docs at the tercile boundaries of their LM surprise — head
    trains first, tail gets filtered or down-weighted. Deliberately NOT
    ntile(3): a per-doc ranking window is one task per language at
    webgraph scale (the pack_sequences lesson). Instead the cutoffs are
    derived EXACTLY from a per-(lang, surprise_x16) histogram — the
    score domain is bounded by construction (16..16*LM_UNSEEN_BITS, at
    most 369 values), so the histogram is tiny at ANY corpus size, its
    cumulative window runs over langs x scores rows, and the bucket
    assignment is a broadcast join back onto the scored docs. Cut rule:
    cut_k = smallest score whose cumulative count reaches k/3 of the
    language's docs (ties land whole score-values per bucket — CCNet
    cuts by perplexity VALUE, exact thirds are not the contract)."""
    s = q_lm_surprise(spark, sf_dir).filter(F.col("n_grams") > 0)
    lang = _documents(spark, sf_dir).select(
        "doc_id", "lang"
    )
    sl = s.join(lang, "doc_id").select("doc_id", "lang", "surprise_x16")
    hist = sl.groupBy("lang", "surprise_x16").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = Window.partitionBy("lang").orderBy("surprise_x16")
    cum = hist.select(
        "lang",
        "surprise_x16",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).cast("long").alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("surprise_x16"))
        ).alias("cut1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("surprise_x16"))
        ).alias("cut2"),
    )
    return sl.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "surprise_x16",
        F.when(F.col("surprise_x16") <= F.col("cut1"), F.lit("head"))
        .when(F.col("surprise_x16") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def q_wet_extract(spark, sf_dir):
    """WET source round-trip (CC's pre-extracted-text sibling of the
    WARC container: ``conversion`` records whose block IS the UTF-8
    text, no HTTP framing; shards named *.warc.wet(.gz)). Deterministic
    2-shard fixture (one per-record-gzip-member — the wire format — one
    plain), read through the same one-archive-per-task splitter,
    warcinfo heads typed away, each doc's text pinned byte-exactly: the
    oracle re-derives url, sha256(text) and char length straight from
    documents."""
    from ocr_parallel_spark.sources.warc import (
        synthesize_wet_fixture,
        wet_docs,
    )

    fixture = synthesize_wet_fixture(spark, sf_dir)
    return wet_docs(spark, fixture).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        F.sha2("text", 256).alias("text_sha"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_bpe_counts(spark, sf_dir):
    """Real-BPE token counting (kernel/bpe.py + functions/tokenize.py,
    the counts the tokenizer-faithful pack chain consumes): fit 200
    merges from the corpus word-frequency table (distributed count,
    deterministic cap, driver merge loop), count every doc in one
    Arrow pass, and pin the algebra SQL can check exactly: every count
    sits in [word count, non-space char count] (each word >= 1 token;
    tokens only ever merge characters) and the corpus-total must
    genuinely compress (strictly fewer tokens than characters — a
    no-op tokenizer fails the gate). The counts themselves are pinned
    by kernel goldens + the distributivity/bounds hypothesis suite;
    the oracle re-derives every non-BPE number and the booleans ride
    as TRUE."""
    from ocr_parallel_spark.functions.tokenize import (
        bpe_token_counts,
        fit_bpe_merges,
    )

    d = _docs(spark, sf_dir)
    merges = fit_bpe_merges(d, "norm", n_merges=200)
    counts = bpe_token_counts(d, merges, "norm", "doc_id")
    base = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("norm"), " "), lambda w: w != "")
        ).cast("long").alias("n_words"),
        F.length(F.regexp_replace(F.col("norm"), " ", ""))
        .cast("long")
        .alias("n_chars_nospace"),
    )
    # Pin the joined (doc_id, counts) rows: both the corpus-total
    # branch and the per-doc projection consume `j` — unpinned, the
    # BPE Arrow pass would run twice (once per branch).
    j = base.join(counts, "doc_id").localCheckpoint(eager=False)
    tot = j.agg(
        F.sum("n_bpe_tokens").alias("_t"), F.sum("n_chars_nospace").alias("_c")
    )
    return (
        j.select(
            "doc_id",
            "n_words",
            "n_chars_nospace",
            (
                (F.col("n_bpe_tokens") >= F.col("n_words"))
                & (F.col("n_bpe_tokens") <= F.col("n_chars_nospace"))
            ).alias("ok_bounds"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_words",
            "n_chars_nospace",
            "ok_bounds",
            (F.col("_t") < F.col("_c")).alias("ok_compressed"),
        )
    )


def q_minhash_estimate_recall(spark, sf_dir):
    """Gate for the SIGNATURE-ESTIMATE dedup path (verification joins
    64-slot signatures instead of document text — operators/neardup.py
    signature_near_dup_marks): plant the same drifted
    near-copies as minhash_recall, mark near-dups by MinHash-estimate
    agreement (>= 1/2 of 64 permutations), and pin (a) recall >= 0.9
    vs the exact word-trigram-Jaccard truth the oracle recomputes in
    SQL, (b) zero marks on docs with no partner at even Jaccard >=
    0.3 (the estimator must not invent dups). Only oracle-computable
    numbers emit; the estimate side's pass/fail rides as booleans the
    oracle pins to TRUE."""
    from ocr_parallel_spark.operators.neardup import (
        signature_near_dup_marks,
        with_minhash_sigs,
    )

    base = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "norm")
    )
    drifted = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("norm"), F.lit(" drift tail token")).alias("norm"),
    )
    corpus = base.unionByName(drifted).select(
        "doc_id", F.col("norm").alias("text")
    )
    sh = corpus.select("doc_id", _shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    truth = pairs.filter((union > 0) & (inter * 2 >= union)).select(
        "id_a", "id_b"
    )
    near03 = (
        pairs.filter((union > 0) & (inter * 10 >= union * 3))
        .select("id_b")
        .distinct()
    )
    marks = signature_near_dup_marks(
        with_minhash_sigs(corpus, "text", "doc_id"), "doc_id"
    )
    marked = marks.filter("is_near_dup").select(F.col("doc_id").alias("id_b"))
    hits = truth.join(marked, "id_b", "left_semi")
    false_marks = marked.join(near03, "id_b", "left_anti")
    return (
        corpus.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .crossJoin(false_marks.agg(F.count(F.lit(1)).alias("_n_false")))
        .select(
            "n_docs",
            "n_truth",
            F.when(F.col("n_truth") == 0, F.lit(True))
            .otherwise(F.col("_n_hit") * 10 >= F.col("n_truth") * 9)
            .alias("recall_ok"),
            (F.col("_n_false") == 0).alias("false_mark_ok"),
        )
    )


def q_pack_tokenized(spark, sf_dir):
    """Tokenizer-faithful packing (VERDICT r4 #5) under the driver
    gate: pack_sequences driven by a PRECOMPUTED token-count column —
    here a BPE-ish stand-in, ceil(n_chars/4) = (len(norm)+3) div 4 —
    instead of the whitespace counter. Offsets/window ids follow the
    supplied counts exactly (the two-level prefix sum is
    counter-agnostic); the oracle re-derives the same counts and
    cumsums in SQL. A real deployment lands true BPE counts with one
    upstream tokenizer pass and packs against deployment reality."""
    from ocr_parallel_spark.operators.chunking import pack_sequences

    counted = _docs(spark, sf_dir).withColumn(
        "bpe_tokens", F.expr("(length(norm) + 3) div 4").cast("long")
    )
    return pack_sequences(
        counted, PACK_WINDOW, n_tokens_col="bpe_tokens"
    )


def q_pack_windows(spark, sf_dir):
    """The packed corpus from the WINDOW side — the view a training
    loader actually consumes: for every (source, context window), how
    many docs contribute, how many tokens land in it, and whether it is
    full (every window except each source's last must be). Derived from
    q_sequence_pack's per-doc offsets by exploding each doc over the
    windows it spans and clipping its token interval to the window —
    all exact bigint interval arithmetic (least/greatest agree across
    engines), one explode + one keyed agg."""
    from ocr_parallel_spark.operators.chunking import pack_sequences

    p = pack_sequences(_docs(spark, sf_dir), PACK_WINDOW)
    e = p.select(
        "source",
        "n_tokens",
        "tok_offset",
        F.explode(F.sequence(F.col("win_start"), F.col("win_end"))).alias(
            "win_id"
        ),
    )
    lo = F.greatest(F.col("tok_offset"), F.col("win_id") * PACK_WINDOW)
    hi = F.least(
        F.col("tok_offset") + F.col("n_tokens") - 1,
        F.col("win_id") * PACK_WINDOW + (PACK_WINDOW - 1),
    )
    return (
        e.withColumn("_contrib", hi - lo + 1)
        .groupBy("source", "win_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_contrib").cast("long").alias("fill_tokens"),
        )
        .withColumn("is_full", F.col("fill_tokens") == PACK_WINDOW)
    )


def _planted_embeddings(spark, sf_dir, cap: int = 1000):
    """The planted-near-dup embedding corpus shared by q_embedding_neardup
    and the SemDedup queries: every vec_id % 100 == 0 row is replaced by a
    near-constant vector (base 100, per-id phase shift) so the >= 0.9
    cosine band provably fires — synthetic embeddings are near-random and
    never reach 0.9 on their own (the round-3 vacuous-gate lesson). The
    oracle replays the identical planting in SQL."""
    planted = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: F.lit(100.0)
        + ((F.expr("vec_id div 100") + j) % 5).cast("double"),
    )
    return (
        fan_out(_embeddings(spark, sf_dir))
        .filter(F.col("vec_id") < cap)
        .select(
            "vec_id",
            F.when(F.col("vec_id") % 100 == 0, planted)
            .otherwise(F.col("embedding").cast("array<double>"))
            .alias("embedding"),
        )
    )


def q_semdedup(spark, sf_dir):
    """SemDedup (Abbas et al. 2023): k-means-cluster the embedding
    corpus, then mark within-cluster epsilon-duplicates (cosine >= 0.9),
    keep-first canon. The production semantic-dedup stage that the exact
    all-pairs baseline (q_embedding_neardup) cannot be at scale — pair
    work drops from O(n^2) to sum(|cell|^2), occupancy hard-capped.
    Cluster ids depend on the sampled k-means fit, so this is rows-only;
    the exact companion gate is q_semdedup_recall."""
    from ocr_parallel_spark.functions.similarity import (
        kmeans_centroids,
        semdedup_marks,
    )

    emb = _planted_embeddings(spark, sf_dir)
    cents = kmeans_centroids(emb, n_cells=8)
    return semdedup_marks(emb, cents, 0.9).select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "is_sem_dup", "dup_of"
    )


def q_semdedup_canon_law(spark, sf_dir):
    """Driver-visible exact gate for the SemDedup canonical resolution
    (functions/similarity.py semdedup_canon): epsilon-closeness is not
    transitive, so raw dup_of can point at a marked doc — the canon
    composition (connected components over (id, dup_of) edges) must
    yield, for EVERY doc: a canon that is itself kept, a canon id <= the
    doc's id, and canon == self exactly for kept docs. The oracle
    recomputes the corpus size and pins the three laws TRUE."""
    from ocr_parallel_spark.functions.similarity import (
        kmeans_centroids,
        semdedup_canon,
        semdedup_marks,
    )

    emb = _planted_embeddings(spark, sf_dir)
    marks = semdedup_marks(emb, kmeans_centroids(emb, n_cells=8), 0.9)
    canon = semdedup_canon(marks)
    kept = canon.filter(~F.col("is_sem_dup")).select(
        F.col("vec_id").alias("_kid")
    )
    joined = canon.join(
        kept.withColumn("_ck", F.lit(True)),
        F.col("canon_id") == F.col("_kid"),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(F.coalesce(F.col("_ck"), F.lit(False))).alias("all_canons_kept"),
        F.min(F.col("canon_id") <= F.col("vec_id")).alias("canon_le_id"),
        F.min(
            F.col("is_sem_dup") | (F.col("canon_id") == F.col("vec_id"))
        ).alias("kept_are_self_canon"),
    )


def q_semdedup_recall(spark, sf_dir):
    """Driver-visible exact gate for the SemDedup scale path (the
    ann_recall pattern): the truth marks are the vectors with a lower-id
    >= 0.9-cosine partner ANYWHERE in the corpus (the all-pairs rule the
    oracle recomputes in SQL over the planted corpus); SemDedup's marks
    are pinned to (a) cover >= 90% of them — the planted near-dups all
    share one direction, so k-means must co-cluster them — and (b)
    contain NO false marks: a semdedup mark is exact-cosine-verified
    within its cell, so every mark is a truth mark by construction, and
    the gate going red on no_false_marks means the verify broke."""
    from ocr_parallel_spark.functions.similarity import (
        dot,
        kmeans_centroids,
        norm,
        semdedup_marks,
    )

    emb = _planted_embeddings(spark, sf_dir)
    unit = (
        emb.withColumn("_n", norm(F.col("embedding")))
        .filter(F.col("_n") > 0)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x / F.col("_n")).alias("u"),
        )
    )
    a, b = unit.alias("a"), unit.alias("b")
    truth_marks = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(
            F.round(dot(F.col("a.u"), F.col("b.u")), 4) >= 0.9
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    marks = (
        semdedup_marks(emb, kmeans_centroids(emb, n_cells=8), 0.9)
        .filter(F.col("is_sem_dup"))
        .select("vec_id")
    )
    hits = truth_marks.join(marks, "vec_id", "left_semi")
    extra = marks.join(truth_marks, "vec_id", "left_anti")
    return (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(truth_marks.agg(F.count(F.lit(1)).alias("n_truth_marks")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .crossJoin(extra.agg(F.count(F.lit(1)).alias("_n_extra")))
        .select(
            "n_vectors",
            "n_truth_marks",
            F.when(F.col("n_truth_marks") == 0, F.lit(True))
            .otherwise(F.col("_n_hit") * 10 >= F.col("n_truth_marks") * 9)
            .alias("recall_ok"),
            (F.col("_n_extra") == 0).alias("no_false_marks"),
        )
    )


# Bloom sidecar gate sizing: small enough that false positives provably
# occur at every scale (~250 committed keys x 4 hashes into 2048 bits =
# ~38% fill, FP ~2% — a handful of is_fp rows), large enough that most
# unseen docs short-circuit. Production sizing is ~10 bits/key
# (functions/bloom.py docstring); the semantics are size-invariant.
BLOOM_BITS = 2048
BLOOM_HASHES = 4


def q_bloom_seen(spark, sf_dir):
    """Bloom-filter membership prefilter (functions/bloom.py — the
    cross-run dedup sidecar): build the filter over the 'committed' half
    of the corpus (even doc_ids' content hashes), probe EVERY doc, and
    emit per-doc maybe_seen / truly_seen / is_fp. Fully deterministic
    (sha2 hex-slice positions), so the oracle replays build AND probe:
    bit p set == some committed key hashes to p, the definitional
    position-set equivalence. Pins the two Bloom laws per doc: no false
    negatives (truly_seen => maybe_seen) and exactly-reproducible false
    positives. The probe itself is broadcast-join-only — the corpus side
    never shuffles (plan-pinned in pytest)."""
    from ocr_parallel_spark.functions.bloom import bloom_build, bloom_probe

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.sha2(F.coalesce(F.col("norm"), F.lit("")), 256).alias("h"),
    )
    committed = docs.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
    words = bloom_build(committed, "h", BLOOM_BITS, BLOOM_HASHES)
    probed = bloom_probe(docs, "h", words, BLOOM_BITS, BLOOM_HASHES)
    t = committed.withColumn("_t", F.lit(True))
    out = probed.join(t, "h", "left")
    truly = F.coalesce(F.col("_t"), F.lit(False))
    return out.select(
        "doc_id",
        "maybe_seen",
        truly.alias("truly_seen"),
        (F.col("maybe_seen") & ~truly).alias("is_fp"),
    )


# Context-window length for sequence packing (tokens). Small enough that
# sf0.001 docs split windows, large enough that most don't — both
# branches of is_split exercised at every scale.
PACK_WINDOW = 512

# Output-shard count for the training-shard shuffle gate. Small enough
# that every shard is non-trivially populated at sf0.001, large enough
# that the permutation visibly interleaves sources within a shard.
SHARD_N = 8


def q_shard_shuffle(spark, sf_dir):
    """Deterministic global shuffle of packed context windows into
    training shards (operators/chunking.py shard_shuffle) — the step
    after sequence packing that real pipelines never skip: pack output
    is source-ordered, and a trainer fed source-runs sees correlated
    consecutive batches. Every (source, win_id) window gets a shard via
    the seeded sha2 derivation and a 0-based position within the shard
    ordered by the next 12 hex chars of the same digest — a
    reproducible pseudo-random permutation with no rand(), so the
    DuckDB oracle replays it exactly. One map-side key pass + one hash
    exchange on shard_id (uniform by construction; per-task bound is
    total/n_shards — the caller's knob, immune to source skew)."""
    from ocr_parallel_spark.operators.chunking import shard_shuffle

    w = q_pack_windows(spark, sf_dir).select("source", "win_id")
    return shard_shuffle(w, SHARD_N).select(
        "source", "win_id", "shard_id", "shard_pos"
    )


def q_sequence_pack(spark, sf_dir):
    """GPT-style sequence packing (concat-and-split): training pipelines
    concatenate tokenized docs in a deterministic order and cut every
    PACK_WINDOW tokens, so each doc lands at a byte-exact offset in the
    packed token stream. Emits per doc: its token count, start offset,
    first/last window ids, windows spanned, and whether it straddles a
    window boundary (the attention-masking case). One window-function
    pass PARTITIONED BY source — the deployment shape packs per shard,
    never a global single-partition order; the cumsum is exact bigint,
    so the DuckDB twin value-hash-matches. Core shared verbatim with
    scripts/job_pack.py (operators/chunking.py pack_sequences)."""
    from ocr_parallel_spark.operators.chunking import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), PACK_WINDOW)


BLOCKED_HOSTS = ["site-3.example.com", "site-5.example.com"]


def q_domain_stats(spark, sf_dir):
    """Domain-level curation (RefinedWeb-style URL filtering): extract
    the host from each doc's (synthesized) URL, compute per-host doc
    counts with ONE keyed window shuffle, and flag docs whose host is on
    a blocklist via a broadcast left join (real blocklists are ~100k
    hosts — broadcast territory forever; the corpus side never
    re-shuffles for the flag). Host keying is functions/urls.py
    host_col (case-insensitive scheme, userinfo/port stripped) so
    blocked domains can't evade via 'HTTPS://' or ':443'."""
    from ocr_parallel_spark.functions.urls import host_col

    docs = fan_out(_documents(spark, sf_dir))
    url = F.concat(
        F.lit("https://site-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    d = docs.select("doc_id", host_col(url).alias("host"))
    w = Window.partitionBy("host")
    blocked = local_frame(
        spark, [(h,) for h in BLOCKED_HOSTS], "host string"
    ).select(F.lower(F.col("host")).alias("host"), F.lit(True).alias("_blocked"))
    return (
        d.withColumn("host_docs", F.count(F.lit(1)).over(w).cast("long"))
        .join(F.broadcast(blocked), "host", "left")
        .select(
            "doc_id",
            "host",
            "host_docs",
            F.coalesce(F.col("_blocked"), F.lit(False)).alias("blocked"),
        )
    )


# Mojibake artifacts (UTF-8 bytes re-decoded as latin-1): U+00C3+U+00A9
# for an e-acute, the U+00E2 U+0080 U+0099 curly-quote triple, a stray
# U+00C2. Written as escapes, not literal chars, so the source file
# cannot itself be mojibake'd by a transcoding tool.
MOJI_TAINT = " caf\u00c3\u00a9 menu\u00e2\u0080\u0099s\u00c2 here"
MOJI_PATTERN = "(\u00c3|\u00e2\u0080|\u00c2)"
REPL_CHAR = "\ufffd"
REPL_TAINT = " bad" + REPL_CHAR + "byte"


def _moji_tainted_text() -> F.Column:
    """norm + the planted mojibake (doc_id % 4 == 1) and U+FFFD
    (doc_id % 10 == 2) taints \u2014 shared by q_encoding_quality and the
    curation composite."""
    doc_id = F.col("doc_id")
    return F.concat(
        F.col("norm"),
        F.when(doc_id % 4 == 1, F.lit(MOJI_TAINT)).otherwise(F.lit("")),
        F.when(doc_id % 10 == 2, F.lit(REPL_TAINT)).otherwise(F.lit("")),
    )


def q_encoding_quality(spark, sf_dir):
    """Encoding-quality scoring (ftfy-style mojibake detection): plant
    classic UTF-8-read-as-latin1 artifacts (see MOJI_TAINT) on docs
    with doc_id % 4 == 1 plus a U+FFFD replacement char on
    doc_id % 10 == 2, then count marker occurrences and flag. Pure
    expressions; the markers are literal codepoints so Java regex and
    RE2 agree byte-for-byte."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", _moji_tainted_text().alias("_t"))
    n_moji = F.regexp_count(F.col("_t"), F.lit(MOJI_PATTERN))
    n_repl = F.regexp_count(F.col("_t"), F.lit(REPL_CHAR))
    return t.select(
        "doc_id",
        n_moji.cast("long").alias("n_mojibake"),
        n_repl.cast("long").alias("n_replacement"),
        ((n_moji > 0) | (n_repl > 0)).alias("suspect_encoding"),
    )


# Span planted by q_repeated_spans on doc_id % 9 == 0: 20 tokens, so any
# window-15 slide across it yields >= 6 cross-doc-shared spans.
SHARED_SPAN = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions beneath the ancient stone bridge"
)
SPAN_W = 15
# Winnowing window (Schleimer et al. 2003, "Winnowing: Local Algorithms
# for Document Fingerprinting"): keep only the minimum span hash per
# window of WINNOW_W consecutive positions. Guarantee: any shared run of
# >= SPAN_W + WINNOW_W - 1 tokens shares a fingerprint; row volume drops
# to ~2/(WINNOW_W+1) of stride-1. The 20-token SHARED_SPAN clears the
# 15 + 4 - 1 = 18-token guarantee threshold.
WINNOW_W = 4


def q_excise_spans(spark, sf_dir):
    """Exact-substring span SURGERY (operators/dedup.py
    excise_repeated_spans — the removal half of Lee et al.): the same
    planted corpus as q_repeated_spans (20-token SHARED_SPAN appended on
    doc_id % 9 == 0), but instead of marking, the repeated windows are
    EXCISED from every non-canonical copy; the min-id owner keeps its
    tokens. Per doc: token count, removed count, and the rebuilt text —
    the oracle replays window hashing, ownership, coverage, and the
    byte-exact reconstruction."""
    from ocr_parallel_spark.operators.dedup import excise_repeated_spans

    d = _docs(spark, sf_dir)
    text = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("norm"), F.lit(" " + SHARED_SPAN)),
    ).otherwise(F.col("norm"))
    return excise_repeated_spans(
        d.select("doc_id", text.alias("norm")), "norm", "doc_id", SPAN_W
    )


def q_repeated_spans(spark, sf_dir):
    """Span-level exact-substring dedup signal (the Spark-shaped reading
    of Lee et al.'s 'Deduplicating Training Data Makes Language Models
    Better', public): every 15-token window (stride 1 — stride sampling
    would break cross-document alignment and miss repeats) is keyed by
    sha2 and counted by DISTINCT document; a doc's spans that appear in
    >= 2 docs are its cross-corpus repeated content. Granularity sits
    between line_dedup (fixed lines) and MinHash (whole doc): it catches
    a paragraph quoted inside otherwise-unique pages. Docs with
    doc_id % 9 == 0 carry a planted 20-token sentence, so each yields
    >= 6 shared windows. Cost shape: the explode is ~one row per token,
    but only (doc_id, 32-byte hash) rows ever shuffle — the window TEXT
    never leaves the map side."""
    d = _docs(spark, sf_dir)
    text = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("norm"), F.lit(" " + SHARED_SPAN)),
    ).otherwise(F.col("norm"))
    toks = F.split(text, " ")
    n = F.size(toks)
    spans = F.when(
        n >= SPAN_W,
        F.transform(
            F.sequence(F.lit(1), n - (SPAN_W - 1)),
            lambda i: F.sha2(F.array_join(F.slice(toks, i, SPAN_W), " "), 256),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # g feeds BOTH the frequency agg and the join-back, and the two
    # branches shuffle with different shapes (partial-agg vs plain), so
    # without a boundary the tokenize+sha2 map work runs twice.
    # localCheckpoint materializes the cheap (doc_id, 32-byte hash) rows
    # once; both shuffles read them back.
    g = d.select(
        "doc_id", F.explode(F.array_distinct(spans)).alias("_sk")
    ).localCheckpoint(eager=False)
    # (doc_id, _sk) pairs are unique by construction (array_distinct per
    # doc), so plain count == count_distinct without the distinct-agg
    # expand.
    freq = g.groupBy("_sk").agg(F.count(F.lit(1)).alias("_docs"))
    per_doc = (
        g.join(freq, "_sk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_docs") >= 2).cast("long")).alias("n_shared"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("has_shared"),
        )
    )


def q_winnowed_spans(spark, sf_dir):
    """Scale path for exact-substring span dedup: WINNOWING (Schleimer
    et al. 2003, public) over the same stride-1 window-15 sha2 spans as
    q_repeated_spans. Instead of shuffling one row per token — linear
    but corpus-sized at 100 TB — only the minimum hash per window of
    WINNOW_W consecutive spans is kept, cutting emitted rows to
    ~2/(WINNOW_W+1) while GUARANTEEING any shared run of
    SPAN_W + WINNOW_W - 1 = 18+ tokens still collides (the shared
    window's min is selected by both docs). The planted 20-token
    SHARED_SPAN therefore stays caught: has_shared is true for every
    doc_id % 9 == 0 doc in BOTH variants (pinned in pytest). The
    oracle runs the identical selection in DuckDB — min over a hash
    window is engine-neutral (lexicographic min over lowercase hex)."""
    d = _docs(spark, sf_dir)
    text = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("norm"), F.lit(" " + SHARED_SPAN)),
    ).otherwise(F.col("norm"))
    toks = F.split(text, " ")
    n = F.size(toks)
    spans = F.when(
        n >= SPAN_W,
        F.transform(
            F.sequence(F.lit(1), n - (SPAN_W - 1)),
            lambda i: F.sha2(F.array_join(F.slice(toks, i, SPAN_W), " "), 256),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Materialize spans in its own projection so the winnow transform
    # (which references it WINNOW_W times per output element via slice)
    # does not re-evaluate the sha2 chain per reference.
    s = d.select("doc_id", spans.alias("_spans"))
    k = F.size(F.col("_spans"))
    fps = F.when(
        k > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k - (WINNOW_W - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(F.col("_spans"), i, WINNOW_W)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = s.select(
        "doc_id", F.explode(fps).alias("_fp")
    ).localCheckpoint(eager=False)
    # (doc_id, _fp) pairs are unique by construction (array_distinct per
    # doc) -> plain count == distinct-doc count, no distinct-agg expand.
    freq = g.groupBy("_fp").agg(F.count(F.lit(1)).alias("_docs"))
    per_doc = (
        g.join(freq, "_fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum((F.col("_docs") >= 2).cast("long")).alias("n_shared"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fp"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("has_shared"),
        )
    )


def q_curation_pipeline(spark, sf_dir):
    """The FULL web-corpus curation flow as ONE Catalyst plan — the
    deployment shape at 100 TB is one pass over the corpus, not eight
    jobs: encoding check -> language ID -> length -> PII screen ->
    inter-doc line dedup (boilerplate removal) -> exact dedup on the
    CLEANED text -> benchmark decontamination, with a first-failing
    drop_reason per doc. Composes the standalone operators verbatim
    (same planted taints, same thresholds) so each signal stays pinned
    by its own oracle while this query pins the composition. Plan shape:
    pure expressions for the scalar signals, the line-frequency
    join + per-doc reassembly, one broadcast gram probe, one sha2
    window on the cleaned text, three doc_id-keyed joins. The dup
    window ranks ALL docs by doc_id (a survivor of the content window
    may itself be dropped for an earlier reason — documented, and the
    SQL twin does the same)."""
    from ocr_parallel_spark.functions.curation import pii_counts
    from ocr_parallel_spark.functions.text_quality import detect_lang_from_hits

    # ONE materialization of (doc_id, norm) shared by the scalar
    # screens, the line-dedup branch, and the decontamination branch:
    # each previously re-ran the scan + normalize chain, and the
    # explode-inferred filters pushed that chain below the fan-out
    # exchange onto the single scan task (round 6 — the lm_frames fix,
    # applied to the composite).
    shared = (
        _docs(spark, sf_dir)
        .select("doc_id", "norm")
        .localCheckpoint(eager=False)
    )
    d, hits = _with_lang_hits(shared)
    # Materialize the tainted texts as columns BEFORE counting (the
    # discipline of q_pii_scrub/q_encoding_quality): each is referenced
    # by 2-3 regexp counts, and Catalyst won't inline a multiply-
    # referenced non-cheap alias — unmaterialized, the ~15-expression
    # taint concat would be rebuilt inside every count.
    d = d.withColumn("_pt", _pii_tainted_text()).withColumn(
        "_mt", _moji_tainted_text()
    )
    counts = pii_counts(F.col("_pt"))
    moji = F.col("_mt")
    scalars = d.select(
        "doc_id",
        detect_lang_from_hits(hits).alias("pred_lang"),
        F.size(F.col("_toks")).alias("n_tokens"),
        (counts["email"] + counts["phone"] + counts["ip"]).alias("n_pii"),
        (
            (F.regexp_count(moji, F.lit(MOJI_PATTERN)) > 0)
            | (F.regexp_count(moji, F.lit(REPL_CHAR)) > 0)
        ).alias("suspect_encoding"),
    )
    lined = q_line_dedup(spark, sf_dir, docs=shared).select(
        "doc_id", F.col("n_kept").alias("n_kept_lines"), "kept_text"
    )
    cont = q_decontaminate(spark, sf_dir, docs=shared).select(
        "doc_id", "contaminated"
    )
    j = scalars.join(lined, "doc_id").join(cont, "doc_id")
    w = Window.partitionBy(F.sha2(F.col("kept_text"), 256)).orderBy("doc_id")
    j = j.withColumn("_dup", F.row_number().over(w) > 1)
    reason = (
        F.when(F.col("suspect_encoding"), F.lit("encoding"))
        .when(F.col("pred_lang") != "en", F.lit("lang"))
        .when(F.col("n_tokens") < 30, F.lit("too_short"))
        .when(F.col("n_pii") >= 2, F.lit("pii"))
        .when(F.col("n_kept_lines") == 0, F.lit("boilerplate"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(F.col("_dup"), F.lit("dup"))
    )
    return j.select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        "n_pii",
        "n_kept_lines",
        "contaminated",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
    )


def q_corpus_curation(spark, sf_dir):
    """The canonical training-corpus curation flow as ONE plan: language
    filter -> quality thresholds -> exact content dedup, each drop
    tagged with its reason (first failing check wins: lang, too_short,
    low_alpha, dup). Thresholds are integer cross-multiplications (2 *
    alpha_chars >= n_chars for the 0.5 ratio) so the oracle compare has
    zero float exposure. One stopword-expression projection + one keyed
    window — curation of 10^12 docs is a scan plus a single shuffle."""
    from ocr_parallel_spark.functions.text_quality import detect_lang_from_hits

    d, hits = _with_lang_hits(_docs(spark, sf_dir))
    n_tokens = F.size(F.col("_toks"))
    n_chars_norm = F.length("norm")
    alpha_chars = F.length(F.regexp_replace(F.lower(F.col("norm")), r"[^a-z]", ""))
    w = Window.partitionBy(F.sha2(F.col("norm"), 256)).orderBy("doc_id")
    d = d.select(
        "doc_id",
        detect_lang_from_hits(hits).alias("pred_lang"),
        n_tokens.alias("n_tokens"),
        n_chars_norm.alias("_nc"),
        alpha_chars.alias("_ac"),
        (F.row_number().over(w) > 1).alias("_dup"),
    )
    reason = (
        F.when(F.col("pred_lang") != "en", F.lit("lang"))
        .when(F.col("n_tokens") < 30, F.lit("too_short"))
        .when(F.col("_ac") * 2 < F.col("_nc"), F.lit("low_alpha"))
        .when(F.col("_dup"), F.lit("dup"))
    )
    return d.select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
    )


def q_simhash_recall(spark, sf_dir):
    """Driver-visible recall gate for SimHash near-dup marking: plant a
    drifted copy (3-word tail) of every per-source concatenated document
    and pin that >= 90% get flagged. Doc SIZE matters: SimHash majority
    margins grow ~sqrt(shingles), so Hamming<=3 reliably catches few-token
    drift on page-scale (~1.5k-token) docs but NOT on ~300-token ones
    (measured: 0.95+ vs ~0.3 recall) — the gate uses the realistic size.
    n_docs/n_planted are recomputed by the SQL oracle."""
    from collections.abc import Iterator

    import pandas as pd

    from ocr_parallel_spark.kernel.simhash import simhash64
    from ocr_parallel_spark.operators.neardup import mark_simhash_near_dups

    base = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "norm"))),
                    lambda s: s["norm"],
                ),
            ).alias("norm")
        )
        .select(F.col("source").alias("url"), "norm")
    )
    drifted = base.select(
        F.concat(F.col("url"), F.lit("~drift")).alias("url"),
        F.concat(F.col("norm"), F.lit(" drift tail token")).alias("norm"),
    )
    corpus = base.unionByName(drifted)

    def hashes(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = [
                (v - (1 << 64) if (v := simhash64(t or "")) >= (1 << 63) else v)
                for t in pdf["norm"]
            ]
            yield pd.DataFrame({"url": pdf["url"], "simhash": vals})

    hashed = corpus.mapInPandas(hashes, schema="url string, simhash bigint")
    marked = mark_simhash_near_dups(hashed, "simhash", "url")
    caught = marked.filter(
        F.col("url").endswith("~drift") & F.col("is_near_dup")
    )
    planted = corpus.filter(F.col("url").endswith("~drift"))
    return (
        corpus.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(planted.agg(F.count(F.lit(1)).alias("n_planted")))
        .crossJoin(caught.agg(F.count(F.lit(1)).alias("_n_caught")))
        .select(
            "n_docs",
            "n_planted",
            F.when(F.col("n_planted") == 0, F.lit(True))
            .otherwise(F.col("_n_caught") * 10 >= F.col("n_planted") * 9)
            .alias("recall_ok"),
        )
    )


def q_capped_details(spark, sf_dir):
    """A2 detail lists (extractor_service.py:298-329; error-list cap
    ocr_service.py:523-528): per-group aggregates PLUS a detail list
    truncated to the first 20 entries — collect_list sorted for
    determinism, sliced, serialized to one string (hashable for the
    driver's canonical compare; a consumer wanting the array keeps the
    slice output)."""
    docs = fan_out(_documents(spark, sf_dir))
    details = F.array_join(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("doc_id", "n_chars"))),
                1,
                20,
            ),
            lambda s: F.concat_ws(
                ":", s["doc_id"].cast("string"), s["n_chars"].cast("string")
            ),
        ),
        ";",
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        details.alias("first20_details"),
    )


def q_pipeline_counts(spark, sf_dir):
    """Driver-visible companion for the Arrow extraction pipeline: its
    row accounting (survivors after keep-first url dedup, error rows,
    exact-dup marks) is exactly predictable from the synthesis rules
    (pages.py: url dup doc_id%10==9, error %50==7, content dup %20==13),
    which the DuckDB oracle re-derives independently from documents."""
    from ocr_parallel_spark.pages import synthesize_pages
    from ocr_parallel_spark.pipeline import run_extraction_pipeline

    pages = synthesize_pages(spark, sf_dir).drop("doc_id")
    out = run_extraction_pipeline(pages)
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("status") == "error", 1)).alias("n_error"),
        F.count(F.when(F.col("is_exact_dup"), 1)).alias("n_exact_dup"),
    )


def q_extract_text_pin(spark, sf_dir):
    """Exact driver gate on the flagship's extracted TEXT (not just row
    accounting): one row per pipeline survivor with sha256(text). The
    DuckDB oracle re-derives the expected text independently from the
    synthesis rules (pages.py: heading 'Document number {content_id}',
    body borrowing for content/near dups, F1 normalization, html blocks
    joined with blank lines vs pdf layout lines flattened to one line) —
    a single byte of kernel-output drift flips the row's hash and the
    driver's value-hash check goes red. Until this query, the
    byte-identical invariant lived only in pytest goldens."""
    from ocr_parallel_spark.pages import synthesize_pages
    from ocr_parallel_spark.pipeline import run_extraction_pipeline

    pages = synthesize_pages(spark, sf_dir).drop("doc_id")
    out = run_extraction_pipeline(pages, near_dups=False)
    return out.select(
        "url",
        "status",
        F.sha2(F.col("text"), 256).alias("text_sha"),
        F.length("text").alias("n_chars"),
    )


# F3 variant-expansion targets: raw NAMES (tokenize exercises dashes and
# digit runs). Chosen so synonym expansion visibly changes outcomes on the
# corpus: "order arrange" flips UNMATCHED->MATCHED via REVERSE lookup
# (ORDER/ARRANGE are values of key SORT; the corpus has order+sort);
# "window frame" shows score dilution (FRAME/PANE absent from corpus).
VARIANT_TARGETS = [
    (1, "join zebra"),
    (2, "order arrange"),
    (3, "sort order"),
    (4, "tuple record"),
    (5, "merge join - 12"),
    (6, "window frame"),
]


def q_localization_variants(spark, sf_dir):
    """F3 end-to-end (text_localization.py:142-165 mechanism): tokenize
    raw target names (F2), expand via the committed generic synonym map
    with forward AND reverse lookup, score against documents with full F4
    semantics — emitting raw and expanded scores side by side so the
    expansion's effect on match outcomes is oracle-pinned."""
    from ocr_parallel_spark.operators.localization import (
        expand_variants,
        hit_ratio,
        match_hits,
        match_texts,
        tokenize,
    )

    # Materialize the derived texts ONCE per doc row BEFORE the cross
    # join: referenced inside the scoring lambda they would re-evaluate
    # (upper + the wordify regex) per token per (doc, target) pair.
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", *(f"{e} AS {n}" for n, e in match_texts("norm", "_").items())
    )
    targets = local_frame(
        spark, VARIANT_TARGETS, "target_id int, name string"
    ).select(
        "target_id",
        tokenize("name").alias("raw_tokens"),
        expand_variants(tokenize("name")).alias("exp_tokens"),
    )
    raw_s, exp_s = (
        hit_ratio(t, match_hits(t, "_upper", "_wordified"))
        for t in ("raw_tokens", "exp_tokens")
    )
    return docs.crossJoin(F.broadcast(targets)).selectExpr(
        "target_id",
        "doc_id",
        f"round({raw_s}, 4) AS score_raw",
        f"round({exp_s}, 4) AS score_expanded",
        f"{raw_s} >= {MATCH_THRESHOLD!r}D AS matched_raw",
        f"{exp_s} >= {MATCH_THRESHOLD!r}D AS matched_expanded",
    )


# Corpus-derived boundary markers for the F5-F7 refinement composite.
# The reference's markers are Spanish legal section headers
# (text_localization.py:352-358,430-441); post-F1 normalization its
# \s+-separated phrase regexes reduce to literal substrings, so markers
# here are literal phrases drawn from the synthetic corpus vocabulary
# (present in ~5-10% of pages: some targets get detected boundaries, some
# exercise the fallback paths).
BOUNDARY_START_MARKERS = ["STREAM WINDOW", "LINE SORT"]
BOUNDARY_END_AFTER = ["AGG QUERY", "BATCH TABLE"]
BOUNDARY_END_BEFORE = ["SLOW FILTER"]


def q_full_process_boundaries(spark, sf_dir):
    """F9 with char-level boundary refinement (F5-F7) and the W6 caps
    5/15/20 (text_localization.py:540-708): ``run_full_process`` over the
    normalized documents, one document per source. One scan and one
    shuffle (by source); the candidate pages ride in the matching chunks'
    member lists, and the targets are a broadcast constant — zero Python."""
    from ocr_parallel_spark.full_process import run_full_process

    targets = local_frame(
        spark,
        [(tid, toks, toks[0]) for tid, toks in TARGETS],
        "target_id int, tokens array<string>, anchor string",
    )
    return run_full_process(
        _docs(spark, sf_dir).select("source", "doc_id", "norm"),
        targets,
        BOUNDARY_START_MARKERS,
        BOUNDARY_END_AFTER,
        BOUNDARY_END_BEFORE,
        TCHUNK,
        TOVERLAP,
    )


def q_media_meta(spark, sf_dir):
    """Multimodal metadata decode over binary payloads (mapInPandas batch
    plumbing; size-derived stand-in arithmetic pinned by the SQL oracle)."""
    from ocr_parallel_spark.multimodal import decode_media_meta, synthesize_media

    media = synthesize_media(spark, sf_dir)
    return decode_media_meta(media)


def q_video_frames(spark, sf_dir):
    """Video frame-sampling plan: 1 row -> N frame rows, pure expressions."""
    from ocr_parallel_spark.multimodal import frame_sample_plan, synthesize_media

    return frame_sample_plan(synthesize_media(spark, sf_dir))


def q_audio_chunks(spark, sf_dir):
    """Overlapping audio chunk plan over decoded durations (W1 over time)."""
    from ocr_parallel_spark.multimodal import (
        audio_chunk_plan,
        decode_media_meta,
        synthesize_media,
    )

    meta = decode_media_meta(synthesize_media(spark, sf_dir))
    return audio_chunk_plan(meta)


def q_media_resize_plan(spark, sf_dir):
    """Image resize planning (training toolkit 'resize'): aspect-preserving
    target dims under max_side=256, pure integer arithmetic."""
    from ocr_parallel_spark.multimodal import (
        decode_media_meta,
        resize_plan,
        synthesize_media,
    )

    meta = decode_media_meta(synthesize_media(spark, sf_dir))
    return resize_plan(meta, max_side=256)


def q_media_features(spark, sf_dir):
    """Byte-histogram features (embedding-extractor batch shape), long
    format: one (media_id, bin, n, weight) row per bin — exact integer
    counts plus an IEEE-exact n/total division, so the DuckDB oracle
    (hex-string nibble counting) hash-matches bit-for-bit."""
    from ocr_parallel_spark.multimodal import (
        byte_histogram_features,
        synthesize_media,
    )

    return byte_histogram_features(synthesize_media(spark, sf_dir))


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate NN via multi-probe multi-table sign-LSH (scale path
    of cosine_topk): candidates = union of 4 independent 4-plane hash
    tables, each query probing its home bucket plus the 4
    least-confident bit flips per table; exact cosine rank within
    candidates. Approximate by construction -> rows-only check; recall
    >= 0.7 vs brute force is pinned by the ann_recall oracle gate and in
    tests."""
    from ocr_parallel_spark.functions.similarity import lsh_topk

    emb = _embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries_df, k=5, dim=64, n_planes=4, n_tables=4, n_probes=4)


def q_two_pass_localization(spark, sf_dir):
    """The reference's hybrid fast/slow path (full_extractor_service.py:
    395-459): cheap pass 1 at threshold 0.6; only targets with NO pass-1
    match get the expensive relaxed pass 2 (threshold 1/3) — an anti-join
    gates the costly work, the plan-shape analog of predicate pushdown."""
    d = _docs(spark, sf_dir).select("doc_id", F.col("norm").alias("chunk_text"))
    targets = local_frame(spark, TARGETS, "target_id int, tokens array<string>")
    p1 = localize(targets, d, "tokens", "chunk_text").select(
        "target_id", "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    matched = p1.select("target_id").distinct()
    missed = targets.join(matched, "target_id", "left_anti")
    p2 = localize(missed, d, "tokens", "chunk_text", 1.0 / 3).select(
        "target_id", "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    return p1.withColumn("pass_no", F.lit(1)).unionByName(
        p2.withColumn("pass_no", F.lit(2))
    )


def q_salted_rollup(spark, sf_dir):
    """Skew-safe aggregation (north_rule salting): two-stage rollup — partial
    agg on (key, salt-of-fine-key), final agg on key. Result provably equals
    the plain GROUP BY (the oracle) while a pathological hot key spreads
    over 16 reducers at stage 1."""
    from ocr_parallel_spark.operators.extraction import salted_key

    docs = _documents(spark, sf_dir)
    salted = docs.withColumn("_sk", salted_key("lang", "doc_id"))
    partial = salted.groupBy("lang", "_sk").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("n_chars").alias("_chars")
    )
    return partial.groupBy("lang").agg(
        F.sum("_n").alias("n_docs"), F.sum("_chars").alias("total_chars")
    )


def q_json_extract(spark, sf_dir):
    """F13 JSON extraction (full_extractor_service.py:188-212): find the
    JSON array in a text blob, parse, pluck fields. Built-ins only:
    regexp_extract + from_json + explode."""
    docs = fan_out(_documents(spark, sf_dir))
    blob = F.concat(
        F.lit('noise [{"encontrado": '),
        F.when(F.col("doc_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(', "inmueble": "D'),
        F.col("doc_id").cast("string"),
        F.lit('"}] trailing noise'),
    )
    arr = F.from_json(
        F.regexp_extract(blob, r"(\[.*\])", 1),
        "array<struct<encontrado:boolean,inmueble:string>>",
    )
    return docs.select(
        "doc_id", F.explode(arr).alias("e")
    ).select(
        "doc_id",
        F.col("e.encontrado").alias("encontrado"),
        F.col("e.inmueble").alias("inmueble"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate NN (second ANN scale path beside sign-LSH): cell
    assignment via literal centroids from a seeded sampled k-means
    (balanced cells — first-N-by-id seeding inherits whatever skew the
    id order carries), candidates by cell-equi-join, exact cosine rank
    within probed cells. Approximate -> rows-only; recall >= 0.7 vs
    brute force pinned by the ann_recall oracle gate and in tests."""
    from ocr_parallel_spark.functions.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    emb = _embeddings(spark, sf_dir)
    cents = kmeans_centroids(emb, n_cells=8)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries_df, cents, k=5, nprobe=4)


def q_minhash_clusters(spark, sf_dir):
    """The near-dup flow's LAST mile: MinHash-LSH candidates -> exact
    Jaccard verification -> connected components (operators/graph.py)
    -> one canonical representative per duplicate CLUSTER with its
    size. A~B~C chains collapse to one keeper even when A~C never
    collided in any band — the consolidation one-hop labeling misses.
    Candidate generation is approximate -> rows-only; the component
    labeling itself is exact over the verified pairs and pinned
    against a driver-side union-find in pytest, and the candidate
    recall is pinned by the minhash_recall gate."""
    from ocr_parallel_spark.operators.graph import connected_components

    pairs = q_minhash_verified_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return (
        cc.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(F.collect_list("node")).alias("members"),
        )
        .select(
            F.col("component").alias("rep_url"),
            "cluster_size",
            F.concat_ws(",", "members").alias("member_urls"),
        )
    )


def q_minhash_verified_pairs(spark, sf_dir):
    """The production near-dup flow end-to-end: MinHash-LSH candidates ->
    exact token-Jaccard verification >= 0.5 (candidate recall is
    approximate -> rows-only)."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), F.col("norm").alias("text")
    )
    cands = minhash_candidate_pairs(d, "text", "url")
    toks = d.select(
        "url", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    a = toks.select(F.col("url").alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("url").alias("id_b"), F.col("toks").alias("toks_b"))
    j = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        j.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup marking over documents (D4 near half; the hash is
    Python-side -> rows-only check)."""
    from collections.abc import Iterator

    import pandas as pd

    from ocr_parallel_spark.kernel.simhash import simhash64
    from ocr_parallel_spark.operators.neardup import mark_simhash_near_dups

    # No fan_out here: A/B measured the round-robin exchange + fanned
    # banding join consistently ~25% SLOWER than the plain single-split
    # scan at this corpus size (1.5s vs 1.9s) — the downstream band
    # self-join re-shuffles on its own keys regardless (round 6).
    d = _documents(spark, sf_dir).select(
        "doc_id", normalize_col("text").alias("norm")
    )

    def hashes(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = [
                (v - (1 << 64) if (v := simhash64(t or "")) >= (1 << 63) else v)
                for t in pdf["norm"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": vals})

    hashed = d.mapInPandas(hashes, schema="doc_id bigint, simhash bigint")
    return mark_simhash_near_dups(hashed, "simhash", "doc_id").select(
        "doc_id", "near_rep", "is_near_dup"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the round driver records correctness for exactly the
    # FIRST 50 dict entries. Round-6 rotation (the r5 verdict's item 4):
    # the 50 veterans below have had NO driver-recorded row since round 4
    # (the r5 window covered the newest entries), so they rotate to the
    # front — every query then has a driver row at most two rounds old.
    # The rotated-out entries all carry green r5 driver rows; every entry
    # in BOTH halves is green in the local mirror (scripts/
    # check_oracles.py) at sf0.001 and sf0.01 this round.
    return {
        # -- veterans: green in driver files r01-r04 -------------------------
        "normalize_text": q_normalize_text,
        "status_classify": q_status_classify,
        "content_hash_dedup": q_content_hash_dedup,
        "dedup_savings": q_dedup_savings,
        "keep_first": q_keep_first,
        "mapback_rep": q_mapback_rep,
        "ordered_concat": q_ordered_concat,
        "overlap_chunks": q_overlap_chunks,
        "pages_from_chunks": q_pages_from_chunks,
        "theta_join_localization": q_theta_join_localization,
        "sessionize": q_sessionize,
        "densest_range": q_densest_range,
        "group_stats": q_group_stats,
        "found_counts": q_found_counts,
        "user_rollup": q_user_rollup,
        "topk_per_group": q_topk_per_group,
        "set_union": q_set_union,
        "langid": q_langid,
        "quality": q_quality,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "embedding_neardup": q_embedding_neardup,
        "full_process": q_full_process,
        "full_process_capped": q_full_process_capped,
        "full_process_boundaries": q_full_process_boundaries,
        "localization_variants": q_localization_variants,
        "minhash_recall": q_minhash_recall,
        "ann_recall": q_ann_recall,
        "pipeline_counts": q_pipeline_counts,
        "extract_text_pin": q_extract_text_pin,
        "capped_details": q_capped_details,
        "simhash_recall": q_simhash_recall,
        "corpus_curation": q_corpus_curation,
        "url_canonicalize": q_url_canonicalize,
        "line_dedup": q_line_dedup,
        "decontaminate": q_decontaminate,
        "token_budget_mix": q_token_budget_mix,
        "domain_stats": q_domain_stats,
        "encoding_quality": q_encoding_quality,
        "curation_pipeline": q_curation_pipeline,
        "repeated_spans": q_repeated_spans,
        "repetition_signals": q_repetition_signals,
        "stratified_sample": q_stratified_sample,
        "sketch_stats": q_sketch_stats,
        "weighted_sample": q_weighted_sample,
        "warc_extract": q_warc_extract,
        "dup_components": q_dup_components,
        "warc_charset": q_warc_charset,
        # -- recorded green by the round-5 driver window --------------------
        "line_dedup_cms": q_line_dedup_cms,
        "cms_heavy": q_cms_heavy,
        "excise_spans": q_excise_spans,
        "bloom_seen": q_bloom_seen,
        "dup_weights": q_dup_weights,
        "eval_overlap": q_eval_overlap,
        "semdedup": q_semdedup,
        "semdedup_recall": q_semdedup_recall,
        "semdedup_canon_law": q_semdedup_canon_law,
        "lm_surprise": q_lm_surprise,
        "lm_separation": q_lm_separation,
        "lm_terciles": q_lm_terciles,
        "shard_shuffle": q_shard_shuffle,
        "quality_trained": q_quality_trained,
        "anchor_text_salted": q_anchor_text_salted,
        "graph_prior": q_graph_prior,
        "pack_tokenized": q_pack_tokenized,
        "minhash_estimate_recall": q_minhash_estimate_recall,
        "bpe_counts": q_bpe_counts,
        "wet_extract": q_wet_extract,
        # -- round-4 additions, never driver-recorded before round 5 --------
        "winnowed_spans": q_winnowed_spans,
        "sequence_pack": q_sequence_pack,
        "pack_windows": q_pack_windows,
        "quality_classifier": q_quality_classifier,
        "anchor_text": q_anchor_text,
        "resolve_links": q_resolve_links,
        "pagerank_dangling": q_pagerank_dangling,
        "pagerank_by_host": q_pagerank_by_host,
        # -- round-3-late entries, driver-unseen through round 4 ------------
        "robots_filter": q_robots_filter,
        "pagerank": q_pagerank,
        "extract_links": q_extract_links,
        "dsir_weights": q_dsir_weights,
        "bm25_search": q_bm25_search,
        "pii_scrub": q_pii_scrub,
        "media_meta": q_media_meta,
        "video_frames": q_video_frames,
        "audio_chunks": q_audio_chunks,
        "media_resize_plan": q_media_resize_plan,
        "media_features": q_media_features,
        "two_pass_localization": q_two_pass_localization,
        "salted_rollup": q_salted_rollup,
        "json_extract": q_json_extract,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "minhash_verified_pairs": q_minhash_verified_pairs,
        "minhash_clusters": q_minhash_clusters,
        "simhash_near_dups": q_simhash_near_dups,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "extraction_pipeline": q_extraction_pipeline,
    }


# ----------------------------------------------------------------- oracles --

_DOCS_CTE = f"docs AS (SELECT doc_id, source, lang, n_chars, {NORM_SQL} AS norm FROM documents)"

_STATUS_CASE = (
    "CASE WHEN norm IS NULL THEN 'error' "
    "WHEN lower(trim(norm)) = '' THEN 'not_found' "
    "WHEN lower(trim(norm)) IN ('inmueble no encontrado', 'no encontrado', "
    "'not found') THEN 'not_found' ELSE 'found' END"
)

_CHUNKS_CTE = f"""
WITH {_DOCS_CTE},
o AS (
  SELECT source, doc_id, norm,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM docs
),
cnt AS (SELECT DISTINCT source, n FROM o),
c AS (
  SELECT source,
         unnest(generate_series(0,
           CASE WHEN n <= {TCHUNK} THEN 0
                ELSE CAST(ceil((n - {TCHUNK}) / {TSTEP}.0) AS INT) END)) AS chunk_index
  FROM cnt
),
j AS (
  SELECT c.source, c.chunk_index, o.rn, o.doc_id, o.norm
  FROM c JOIN o ON o.source = c.source
   AND o.rn >= c.chunk_index * {TSTEP}
   AND o.rn < c.chunk_index * {TSTEP} + {TCHUNK}
),
chunks AS (
  SELECT source, chunk_index,
         min(doc_id) AS start_doc_id, max(doc_id) AS end_doc_id,
         count(*) AS n_rows,
         string_agg(norm, e'\n\n' ORDER BY rn) AS chunk_text
  FROM j GROUP BY source, chunk_index
)
"""

_TARGETS_SQL = "targets(target_id, tokens) AS (VALUES " + ", ".join(
    f"({tid}, [{', '.join(repr(t) for t in toks)}])" for tid, toks in TARGETS
) + ")"

# The full_process twins' candidate pages: (target, source, page) for
# every member page of a chunk the target matches at >= 0.6 (full F4
# scoring over the chunk text), each page once. Membership is the chunk
# join ``j`` of _CHUNKS_CTE, so a page never leaves its own source.
_MATCHED_PAGES_SQL = """loc AS (
              SELECT t.target_id, c.source, c.chunk_index
              FROM chunks c CROSS JOIN targets t
              WHERE CAST(list_sum(list_transform(t.tokens, tok ->
                CASE WHEN regexp_matches(tok, '^\\d+$')
                     THEN CASE WHEN contains(' ' || regexp_replace(upper(c.chunk_text),
                            '[^\\p{L}\\p{N}_]+', ' ', 'g') || ' ',
                            ' ' || tok || ' ') THEN 1 ELSE 0 END
                     ELSE CASE WHEN contains(upper(c.chunk_text), tok)
                          THEN 1 ELSE 0 END
                END)) AS DOUBLE) / len(t.tokens) >= 0.6
            ),
            pj AS (
              SELECT DISTINCT l.target_id, l.source, j.doc_id, j.norm
              FROM loc l JOIN j ON j.source = l.source
               AND j.chunk_index = l.chunk_index
            )"""

# The trigram-LM fit + per-doc scoring (functions/lm.py) replayed
# entirely in SQL — reference split, taint planting, trigram/context
# counting, min_count prune, capped bit-length surprise, per-doc
# aggregation. length(bin(n)) = floor(log2)+1 identically in both
# engines; 24 = LM_UNSEEN_BITS, 2 = LM_MIN_COUNT (functions/lm.py).
# Shared by the lm_surprise (exact per-doc) and lm_separation
# (mean-floor gate) oracles. AS MATERIALIZED on crawl: it is referenced
# twice (scoring + the final left join) and DuckDB inlines plain CTEs.
_LM_PERDOC = f"""{_DOCS_CTE},
crawl AS MATERIALIZED (
  SELECT doc_id,
         COALESCE(norm, '') || CASE
           WHEN doc_id % 9 = 0 THEN ' {{moji}}'
           WHEN doc_id % 9 = 3 THEN ' {{lorem}}'
           WHEN doc_id % 9 = 6 THEN ' {{pii}}'
           ELSE '' END AS norm,
         doc_id % 3 = 0 AS tainted
  FROM docs
),
rtok AS (
  SELECT string_split(COALESCE(norm, ''), ' ') AS toks
  FROM docs WHERE doc_id % 3 <> 0
),
rpos AS (
  SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram,
         toks[i] || ' ' || toks[i+1] AS ctx
  FROM rtok, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
tri AS (SELECT gram, ctx, CAST(COUNT(*) AS BIGINT) AS c3 FROM rpos GROUP BY 1, 2),
ctx AS (SELECT ctx, CAST(SUM(c3) AS BIGINT) AS c2 FROM tri GROUP BY 1),
model AS (
  SELECT gram,
         CAST(least(length(bin(c2)) - length(bin(c3)) + 1, 24) AS BIGINT)
           AS surprise
  FROM tri JOIN ctx USING (ctx) WHERE c3 >= 2
),
ctok AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM crawl),
cpos AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM ctok, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(COALESCE(m.surprise, 24)) AS BIGINT) AS sum_surprise
  FROM cpos LEFT JOIN model m USING (gram) GROUP BY 1
),
perdoc AS (
  SELECT c.doc_id, c.tainted,
         CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(s.sum_surprise, 0) AS BIGINT) AS sum_surprise,
         CAST(CASE WHEN COALESCE(s.n_grams, 0) > 0
              THEN (16 * s.sum_surprise) // s.n_grams END AS BIGINT)
           AS surprise_x16
  FROM crawl c LEFT JOIN sc s ON c.doc_id = s.doc_id
)""".format(moji=_QT_MOJI, lorem=_QT_LOREM, pii=_QT_PII)


def oracle_sql() -> dict[str, str]:
    out = {
        "normalize_text": f"SELECT doc_id, {NORM_SQL} AS norm_text FROM documents",
        "status_classify": (
            f"WITH {_DOCS_CTE} SELECT doc_id, {_STATUS_CASE} AS status FROM docs"
        ),
        "content_hash_dedup": f"""
            WITH {_DOCS_CTE},
            h AS (SELECT doc_id, sha256(norm) AS content_sha256 FROM docs)
            SELECT doc_id, content_sha256,
                   row_number() OVER (PARTITION BY content_sha256 ORDER BY doc_id) > 1
                     AS is_exact_dup
            FROM h
        """,
        "dedup_savings": f"""
            WITH {_DOCS_CTE}
            SELECT count(*) AS total_rows,
                   count(DISTINCT sha256(norm)) AS unique_rows,
                   count(*) - count(DISTINCT sha256(norm)) AS duplicate_rows
            FROM docs
        """,
        "keep_first": """
            SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
              SELECT *, row_number() OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_partkey, l_quantity,
                                 l_extendedprice) AS rn
              FROM lineitem
            ) WHERE rn = 1
        """,
        "mapback_rep": f"""
            WITH {_DOCS_CTE}
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY sha256(norm)) AS rep_doc_id
            FROM docs
        """,
        "ordered_concat": f"""
            WITH {_DOCS_CTE}
            SELECT source,
                   string_agg(norm, e'\n\n' ORDER BY doc_id) AS concat_text,
                   count(*) AS n_rows
            FROM docs GROUP BY source
        """,
        "overlap_chunks": _CHUNKS_CTE + "SELECT * FROM chunks",
        "pages_from_chunks": _CHUNKS_CTE
        + """
            SELECT DISTINCT source,
                   unnest(generate_series(start_doc_id, end_doc_id)) AS doc_id
            FROM chunks WHERE chunk_index % 2 = 0
        """,
        "theta_join_localization": f"""
            WITH {_DOCS_CTE},
            {_TARGETS_SQL},
            scored AS (
              SELECT t.target_id, d.doc_id,
                     round(CAST(list_sum(list_transform(t.tokens, tok ->
                       CASE WHEN regexp_matches(tok, '^\\d+$')
                            THEN CASE WHEN contains(' ' || regexp_replace(upper(d.norm),
                                   '[^\\p{{L}}\\p{{N}}_]+', ' ', 'g') || ' ',
                                   ' ' || tok || ' ') THEN 1 ELSE 0 END
                            ELSE CASE WHEN contains(upper(d.norm), tok)
                                 THEN 1 ELSE 0 END
                       END)) AS DOUBLE) / len(t.tokens), 4) AS score
              FROM docs d CROSS JOIN targets t
            )
            SELECT target_id, doc_id, score FROM scored WHERE score >= 0.6
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id,
                     CASE WHEN event_id - lag(event_id) OVER
                       (PARTITION BY user_id ORDER BY event_id) > 3
                     THEN 1 ELSE 0 END AS flag
              FROM events
            ),
            s AS (
              SELECT user_id, event_id,
                     CAST(sum(flag) OVER (PARTITION BY user_id
                       ORDER BY event_id ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(event_id) AS min_event, max(event_id) AS max_event
            FROM s GROUP BY user_id, session_id
        """,
        "densest_range": """
            WITH g AS (
              SELECT user_id, event_id,
                     CASE WHEN event_id - lag(event_id) OVER
                       (PARTITION BY user_id ORDER BY event_id) > 3
                     THEN 1 ELSE 0 END AS flag
              FROM events
            ),
            s AS (
              SELECT user_id, event_id,
                     CAST(sum(flag) OVER (PARTITION BY user_id
                       ORDER BY event_id ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS session_id
              FROM g
            ),
            runs AS (
              SELECT user_id, session_id, count(*) AS run_count,
                     min(event_id) AS run_start, max(event_id) AS run_end
              FROM s GROUP BY user_id, session_id
            )
            SELECT user_id, session_id, run_count, run_start, run_end FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY run_count DESC, run_start ASC) AS rk
              FROM runs
            ) WHERE rk = 1
        """,
        "group_stats": """
            SELECT event_type, count(*) AS n,
                   round(avg(value), 4) AS avg_value,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value,
                   round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
            FROM events GROUP BY event_type
        """,
        "found_counts": (
            f"WITH {_DOCS_CTE} SELECT {_STATUS_CASE} AS status, count(*) AS n "
            "FROM docs GROUP BY 1"
        ),
        "user_rollup": """
            SELECT user_id, count(*) AS n_events,
                   round(CAST(sum(value) AS DOUBLE), 4) AS total_value
            FROM events GROUP BY user_id
        """,
        "topk_per_group": """
            SELECT source, doc_id, rk FROM (
              SELECT source, doc_id, row_number() OVER
                (PARTITION BY source ORDER BY doc_id) AS rk
              FROM documents
            ) WHERE rk <= 3
        """,
        "set_union": """
            SELECT DISTINCT source, doc_id FROM (
              SELECT source, doc_id FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT source, doc_id FROM documents WHERE n_chars > 300
            )
        """,
        "langid": _langid_sql(),
        "quality": _quality_sql(),
        "full_process_boundaries": _boundaries_sql(),
        "localization_variants": _variants_sql(),
        # Recall gates: the truth-set sizes are REAL cross-checks (exact
        # shingle-Jaccard / brute-force top-k recomputed in SQL); the
        # recall_ok booleans pin the approximate paths' pass/fail — the
        # driver goes red if Spark's recall drops below the floor.
        "minhash_recall": f"""
            WITH {_DOCS_CTE},
            base AS (SELECT doc_id, norm FROM docs WHERE doc_id < 250),
            corpus AS (
              SELECT CAST(doc_id AS VARCHAR) AS url, norm AS text FROM base
              UNION ALL
              SELECT CAST(doc_id + 100000 AS VARCHAR),
                     norm || ' drift tail token'
              FROM base WHERE doc_id % 5 = 0
            ),
            sh AS (
              SELECT url,
                CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                  list_distinct(list_transform(
                    range(1, CAST(len(string_split(text, ' ')) - 1 AS BIGINT)),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1] || ' ' ||
                         string_split(text, ' ')[i + 2]))
                ELSE [] END AS s
              FROM corpus
            ),
            truth AS (
              SELECT a.url AS id_a, b.url AS id_b
              FROM sh a JOIN sh b ON a.url < b.url
              WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
                AND 2 * len(list_intersect(a.s, b.s)) >=
                    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_truth,
                   TRUE AS recall_ok
            FROM truth
        """,
        "wet_extract": """
            SELECT doc_id,
                   'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
                   sha256(text) AS text_sha,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM documents
        """,
        "bpe_counts": f"""
            WITH {_DOCS_CTE}
            SELECT doc_id,
                   CAST(len(list_filter(string_split(norm, ' '),
                        w -> w <> '')) AS BIGINT) AS n_words,
                   CAST(length(replace(norm, ' ', '')) AS BIGINT)
                     AS n_chars_nospace,
                   TRUE AS ok_bounds,
                   TRUE AS ok_compressed
            FROM docs
        """,
        "minhash_estimate_recall": f"""
            WITH {_DOCS_CTE},
            base AS (SELECT doc_id, norm FROM docs WHERE doc_id < 250),
            corpus AS (
              SELECT doc_id, norm AS text FROM base
              UNION ALL
              SELECT doc_id + 100000, norm || ' drift tail token'
              FROM base WHERE doc_id % 5 = 0
            ),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                  list_distinct(list_transform(
                    range(1, CAST(len(string_split(text, ' ')) - 1 AS BIGINT)),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1] || ' ' ||
                         string_split(text, ' ')[i + 2]))
                ELSE [] END AS s
              FROM corpus
            ),
            truth AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
                AND 2 * len(list_intersect(a.s, b.s)) >=
                    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_truth,
                   TRUE AS recall_ok,
                   TRUE AS false_mark_ok
            FROM truth
        """,
        "ann_recall": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id < 10
            ),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) AS cs
              FROM embeddings e CROSS JOIN q
            ),
            t AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, row_number() OVER
                  (PARTITION BY query_id ORDER BY cs DESC, vec_id ASC) AS rk
                FROM s) WHERE rk <= 5
            )
            SELECT CAST(count(*) AS BIGINT) AS n_truth,
                   TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok
            FROM t
        """,
        "corpus_curation": _curation_sql(),
        "curation_pipeline": _curation_full_sql(),
        "excise_spans": f"""
            WITH {_DOCS_CTE},
            t AS MATERIALIZED (
              SELECT doc_id, string_split(COALESCE(
                CASE WHEN doc_id % 9 = 0
                     THEN norm || ' {SHARED_SPAN}' ELSE norm END,
                ''), ' ') AS toks
              FROM docs
            ),
            wn AS MATERIALIZED (
              SELECT doc_id, i,
                     sha256(array_to_string(toks[i:i+{SPAN_W - 1}], ' ')) AS h
              FROM t, UNNEST(generate_series(1,
                     greatest(len(toks) - {SPAN_W - 1}, 0))) AS u(i)
            ),
            st AS (
              SELECT h, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
              FROM wn GROUP BY h
            ),
            bad AS (
              SELECT wn.doc_id, wn.i
              FROM wn JOIN st USING (h)
              WHERE st.nd >= 2 AND st.owner <> wn.doc_id
            ),
            pos AS (
              SELECT doc_id, p, toks[p] AS tok
              FROM t, UNNEST(generate_series(1, len(toks))) AS u(p)
            ),
            rem AS (
              SELECT DISTINCT pos.doc_id, pos.p
              FROM pos JOIN bad b ON b.doc_id = pos.doc_id
               AND b.i BETWEEN pos.p - {SPAN_W - 1} AND pos.p
            ),
            kept AS (
              SELECT pos.doc_id,
                     count(*) AS n_tok,
                     count(*) FILTER (WHERE r.p IS NOT NULL) AS n_rem,
                     COALESCE(string_agg(tok, ' ' ORDER BY pos.p)
                       FILTER (WHERE r.p IS NULL), '') AS deduped_text
              FROM pos LEFT JOIN rem r
                ON r.doc_id = pos.doc_id AND r.p = pos.p
              GROUP BY pos.doc_id
            )
            SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
                   CAST(n_rem AS BIGINT) AS n_removed, deduped_text
            FROM kept
        """,
        "repeated_spans": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, string_split(
                CASE WHEN doc_id % 9 = 0
                     THEN norm || ' {SHARED_SPAN}' ELSE norm END,
                ' ') AS toks
              FROM docs
            ),
            g AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(toks) >= {SPAN_W}
                  THEN list_transform(generate_series(1, len(toks)-{SPAN_W - 1}),
                         i -> sha256(array_to_string(
                           toks[i:i+{SPAN_W - 1}], ' ')))
                  ELSE CAST([] AS VARCHAR[]) END)) AS sk
              FROM t
            ),
            freq AS (SELECT sk, count(DISTINCT doc_id) AS docs
                     FROM g GROUP BY sk),
            per_doc AS (
              SELECT g.doc_id,
                     CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_shared
              FROM g JOIN freq f USING (sk) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
                   coalesce(p.n_shared, 0) > 0 AS has_shared
            FROM docs d LEFT JOIN per_doc p USING (doc_id)
        """,
        "winnowed_spans": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, string_split(
                CASE WHEN doc_id % 9 = 0
                     THEN norm || ' {SHARED_SPAN}' ELSE norm END,
                ' ') AS toks
              FROM docs
            ),
            s AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= {SPAN_W}
                  THEN list_transform(generate_series(1, len(toks)-{SPAN_W - 1}),
                         i -> sha256(array_to_string(
                           toks[i:i+{SPAN_W - 1}], ' ')))
                  ELSE CAST([] AS VARCHAR[]) END AS spans
              FROM t
            ),
            g AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(spans) > 0
                  THEN list_transform(
                         generate_series(1, greatest(len(spans)-{WINNOW_W - 1}, 1)),
                         i -> list_min(spans[i:i+{WINNOW_W - 1}]))
                  ELSE CAST([] AS VARCHAR[]) END)) AS fp
              FROM s
            ),
            freq AS (SELECT fp, count(*) AS docs FROM g GROUP BY fp),
            per_doc AS (
              SELECT g.doc_id,
                     CAST(count(*) AS BIGINT) AS n_fp,
                     CAST(sum(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_shared
              FROM g JOIN freq f USING (fp) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_fp, 0) AS BIGINT) AS n_fp,
                   CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
                   coalesce(p.n_shared, 0) > 0 AS has_shared
            FROM docs d LEFT JOIN per_doc p USING (doc_id)
        """,
        "lm_surprise": f"""
            WITH {_LM_PERDOC}
            SELECT doc_id, tainted, n_grams, sum_surprise, surprise_x16
            FROM perdoc
        """,
        "lm_separation": f"""
            WITH {_LM_PERDOC},
            g AS (
              SELECT
                CAST(SUM(CASE WHEN tainted THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
                CAST(SUM(CASE WHEN tainted THEN 1 ELSE 0 END) AS BIGINT) AS n_taint,
                CAST(SUM(CASE WHEN tainted THEN 0 ELSE surprise_x16 END) AS BIGINT) AS s_clean,
                CAST(SUM(CASE WHEN tainted THEN surprise_x16 ELSE 0 END) AS BIGINT) AS s_taint
              FROM perdoc WHERE n_grams > 0
            )
            SELECT n_clean, n_taint,
                   CAST(CASE WHEN n_clean = 0 THEN 0
                        ELSE s_clean // n_clean END AS BIGINT) AS mean_clean_x16,
                   CAST(CASE WHEN n_taint = 0 THEN 0
                        ELSE s_taint // n_taint END AS BIGINT) AS mean_taint_x16,
                   -- floored MEANS (bounded by the surprise cap), never
                   -- cross-multiplied corpus-sized sums: those overflow
                   -- BIGINT at ~1e8 docs/class (Spark wraps, DuckDB raises)
                   n_clean > 0 AND n_taint > 0
                     AND (s_taint // n_taint) * 4
                         >= (s_clean // n_clean) * 5 AS sep_ok
            FROM g
        """,
        "lm_terciles": f"""
            WITH {_LM_PERDOC},
            sl AS (
              SELECT p.doc_id, d.lang, p.surprise_x16
              FROM perdoc p JOIN docs d USING (doc_id)
              WHERE p.n_grams > 0
            ),
            hist AS (
              SELECT lang, surprise_x16, CAST(COUNT(*) AS BIGINT) AS c
              FROM sl GROUP BY 1, 2
            ),
            cum AS (
              SELECT lang, surprise_x16,
                     SUM(c) OVER (PARTITION BY lang ORDER BY surprise_x16)
                       AS cum,
                     SUM(c) OVER (PARTITION BY lang) AS n
              FROM hist
            ),
            cuts AS (
              SELECT lang,
                     MIN(CASE WHEN cum * 3 >= n THEN surprise_x16 END) AS cut1,
                     MIN(CASE WHEN cum * 3 >= 2 * n THEN surprise_x16 END) AS cut2
              FROM cum GROUP BY 1
            )
            SELECT sl.doc_id, sl.lang, sl.surprise_x16,
                   CASE WHEN surprise_x16 <= cut1 THEN 'head'
                        WHEN surprise_x16 <= cut2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM sl JOIN cuts USING (lang)
        """,
        "quality_trained": f"""
            WITH {_DOCS_CTE},
            planted AS (
              SELECT doc_id,
                     COALESCE(norm, '') || CASE
                       WHEN doc_id % 9 = 0 THEN ' {_QT_MOJI}'
                       WHEN doc_id % 9 = 3 THEN ' {_QT_LOREM}'
                       WHEN doc_id % 9 = 6 THEN ' {_QT_PII}'
                       ELSE '' END AS norm,
                     doc_id % 3 = 0 AS label_low
              FROM docs
            ),
            ttok AS (
              SELECT label_low, unnest(string_split(norm, ' ')) AS tok
              FROM planted WHERE doc_id % 5 <> 0
            ),
            counts AS (
              SELECT CAST(('0x' || substr(sha256(tok), 1, 4))::UBIGINT
                          % {QT_BUCKETS} AS BIGINT) AS bucket,
                     CAST(SUM(CASE WHEN label_low THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                     CAST(SUM(CASE WHEN label_low THEN 0 ELSE 1 END) AS BIGINT) AS n_ok
              FROM ttok GROUP BY 1
            ),
            tot AS (
              SELECT CAST(SUM(n_low) AS BIGINT) AS tot_low,
                     CAST(SUM(n_ok) AS BIGINT) AS tot_ok
              FROM counts
            ),
            w AS (
              SELECT bucket, wt FROM (
                SELECT bucket,
                       CASE WHEN n_low * tot_ok > {QT_RATIO} * n_ok * tot_low
                                 AND n_low * {QT_MIN_PROB_DEN} >= tot_low THEN 1
                            WHEN n_ok * tot_low > {QT_RATIO} * n_low * tot_ok
                                 AND n_ok * {QT_MIN_PROB_DEN} >= tot_ok THEN -1
                            ELSE 0 END AS wt
                FROM counts, tot
              ) WHERE wt <> 0
            ),
            etok AS (
              SELECT doc_id, label_low, unnest(string_split(norm, ' ')) AS tok
              FROM planted WHERE doc_id % 5 = 0
            ),
            eb AS (
              SELECT doc_id, label_low,
                     CAST(('0x' || substr(sha256(tok), 1, 4))::UBIGINT
                          % {QT_BUCKETS} AS BIGINT) AS bucket
              FROM etok
            ),
            sc AS (
              SELECT doc_id, label_low, SUM(COALESCE(w.wt, 0)) > 0 AS pred
              FROM eb LEFT JOIN w USING (bucket)
              GROUP BY doc_id, label_low
            ),
            m AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
                     CAST(SUM(CASE WHEN label_low AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(SUM(CASE WHEN (NOT label_low) AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(SUM(CASE WHEN label_low AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM sc
            )
            SELECT n_eval, tp, fp, fn,
                   CAST(CASE WHEN tp + fp = 0 THEN 0
                        ELSE tp * 1000 // (tp + fp) END AS BIGINT) AS prec_milli,
                   CAST(CASE WHEN tp + fn = 0 THEN 0
                        ELSE tp * 1000 // (tp + fn) END AS BIGINT) AS rec_milli,
                   tp * 10 >= (tp + fp) * 9 AS precision_ok,
                   tp * 10 >= (tp + fn) * 9 AS recall_ok
            FROM m
        """,
        "quality_classifier": f"""
            WITH {_DOCS_CTE},
            w AS (
              SELECT CAST(i AS BIGINT) AS bucket,
                     CAST((i * {QC_WEIGHT_MULT}) % 1000 - 500 AS BIGINT) AS wt
              FROM generate_series(0, {QC_BUCKETS - 1}) t(i)
            ),
            t AS (
              SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM docs
            ),
            b AS (
              SELECT doc_id,
                     CAST(('0x' || substr(sha256(tok), 1, 4))::UBIGINT
                          % {QC_BUCKETS} AS BIGINT) AS bucket
              FROM t
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(w.wt) AS BIGINT) AS score_mi,
                   SUM(w.wt) >= 0 AS keep
            FROM b JOIN w USING (bucket)
            GROUP BY doc_id
        """,
        "shard_shuffle": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, source,
                     CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
              FROM docs
            ),
            o AS (
              SELECT doc_id, source, n_tokens,
                     CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) - n_tokens AS BIGINT) AS tok_offset
              FROM t
            ),
            wins AS (
              SELECT DISTINCT source, win_id FROM (
                SELECT source,
                       CAST(unnest(generate_series(tok_offset // {PACK_WINDOW},
                         (tok_offset + n_tokens - 1) // {PACK_WINDOW}))
                         AS BIGINT) AS win_id
                FROM o
              )
            ),
            k AS (
              SELECT source, win_id,
                     'shard0|' || COALESCE(source, '') || '|'
                       || CAST(win_id AS VARCHAR) AS key
              FROM wins
            ),
            s AS (
              SELECT source, win_id, key,
                     CAST(('0x' || substr(sha256(key), 1, 12))::UBIGINT
                          % {SHARD_N} AS BIGINT) AS shard_id,
                     ('0x' || substr(sha256(key), 13, 12))::UBIGINT AS sk
              FROM k
            )
            SELECT source, win_id, shard_id,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY shard_id ORDER BY sk, key
                   ) - 1 AS BIGINT) AS shard_pos
            FROM s
        """,
        "pack_windows": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, source,
                     CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
              FROM docs
            ),
            o AS (
              SELECT doc_id, source, n_tokens,
                     CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) - n_tokens AS BIGINT) AS tok_offset
              FROM t
            ),
            e AS (
              SELECT source, n_tokens, tok_offset,
                     unnest(generate_series(tok_offset // {PACK_WINDOW},
                       (tok_offset + n_tokens - 1) // {PACK_WINDOW})) AS win_id
              FROM o
            )
            SELECT source, CAST(win_id AS BIGINT) AS win_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(
                     least(tok_offset + n_tokens - 1,
                           win_id * {PACK_WINDOW} + {PACK_WINDOW - 1})
                     - greatest(tok_offset, win_id * {PACK_WINDOW}) + 1
                   ) AS BIGINT) AS fill_tokens,
                   SUM(least(tok_offset + n_tokens - 1,
                             win_id * {PACK_WINDOW} + {PACK_WINDOW - 1})
                       - greatest(tok_offset, win_id * {PACK_WINDOW}) + 1)
                     = {PACK_WINDOW} AS is_full
            FROM e GROUP BY source, win_id
        """,
        "sequence_pack": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, source,
                     CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
              FROM docs
            ),
            o AS (
              SELECT doc_id, source, n_tokens,
                     SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) - n_tokens AS tok_offset
              FROM t
            )
            SELECT doc_id, source, n_tokens,
                   CAST(tok_offset AS BIGINT) AS tok_offset,
                   CAST(tok_offset // {PACK_WINDOW} AS BIGINT) AS win_start,
                   CAST(greatest(tok_offset // {PACK_WINDOW},
                        (tok_offset + n_tokens - 1) // {PACK_WINDOW}) AS BIGINT)
                     AS win_end,
                   CAST(greatest(tok_offset // {PACK_WINDOW},
                        (tok_offset + n_tokens - 1) // {PACK_WINDOW})
                        - tok_offset // {PACK_WINDOW} + 1 AS BIGINT) AS n_windows,
                   greatest(tok_offset // {PACK_WINDOW},
                        (tok_offset + n_tokens - 1) // {PACK_WINDOW})
                     > tok_offset // {PACK_WINDOW} AS is_split
            FROM o
        """,
        "pack_tokenized": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, source,
                     CAST((length(norm) + 3) // 4 AS BIGINT) AS n_tokens
              FROM docs
            ),
            o AS (
              SELECT doc_id, source, n_tokens,
                     SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) - n_tokens AS tok_offset
              FROM t
            )
            SELECT doc_id, source, n_tokens,
                   CAST(tok_offset AS BIGINT) AS tok_offset,
                   CAST(tok_offset // {PACK_WINDOW} AS BIGINT) AS win_start,
                   CAST(greatest(tok_offset // {PACK_WINDOW},
                        (tok_offset + n_tokens - 1) // {PACK_WINDOW}) AS BIGINT)
                     AS win_end,
                   CAST(greatest(tok_offset // {PACK_WINDOW},
                        (tok_offset + n_tokens - 1) // {PACK_WINDOW})
                        - tok_offset // {PACK_WINDOW} + 1 AS BIGINT) AS n_windows,
                   greatest(tok_offset // {PACK_WINDOW},
                        (tok_offset + n_tokens - 1) // {PACK_WINDOW})
                     > tok_offset // {PACK_WINDOW} AS is_split
            FROM o
        """,
        "domain_stats": f"""
            WITH d AS (
              SELECT doc_id,
                     lower(regexp_replace(regexp_replace(regexp_extract(
                       'https://site-' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR),
                       '(?i)^https?://([^/?#]+)', 1),
                       '^[^@]*@', ''), ':\\d+\\z', '')) AS host
              FROM documents
            ),
            blocked(host) AS (VALUES {", ".join(f"('{h}')" for h in BLOCKED_HOSTS)})
            SELECT d.doc_id, d.host,
                   CAST(count(*) OVER (PARTITION BY d.host) AS BIGINT)
                     AS host_docs,
                   b.host IS NOT NULL AS blocked
            FROM d LEFT JOIN blocked b USING (host)
        """,
        "encoding_quality": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id,
                norm
                || CASE WHEN doc_id % 4 = 1 THEN '{MOJI_TAINT}' ELSE '' END
                || CASE WHEN doc_id % 10 = 2 THEN '{REPL_TAINT}' ELSE '' END
                AS t
              FROM docs
            )
            SELECT doc_id,
              CAST(len(regexp_extract_all(t, '{MOJI_PATTERN}')) AS BIGINT)
                AS n_mojibake,
              CAST(len(regexp_extract_all(t, '{REPL_CHAR}')) AS BIGINT)
                AS n_replacement,
              len(regexp_extract_all(t, '{MOJI_PATTERN}')) > 0
                OR len(regexp_extract_all(t, '{REPL_CHAR}')) > 0
                AS suspect_encoding
            FROM t
        """,
        "dup_weights": f"""
            WITH {_DOCS_CTE},
            s AS (
              SELECT doc_id,
                     count(*) OVER (
                       PARTITION BY sha256(COALESCE(norm, ''))
                     ) AS cluster_size
              FROM docs
            )
            SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
                   CAST(1000 // cluster_size AS BIGINT) AS weight_milli
            FROM s
        """,
        "eval_overlap": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
            g AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(toks) >= 8
                  THEN list_transform(generate_series(1, len(toks)-7),
                         i -> array_to_string(toks[i:i+7], ' '))
                  ELSE CAST([] AS VARCHAR[]) END)) AS gram
              FROM t
            ),
            bg AS (SELECT doc_id AS bench_id, gram FROM g
                   WHERE doc_id % 50 = 7),
            tot AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_grams
                    FROM bg GROUP BY 1),
            corp AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 <> 7),
            lk AS (
              SELECT bench_id, CAST(count(*) AS BIGINT) AS n_leaked
              FROM (SELECT DISTINCT bench_id, bg.gram
                    FROM bg JOIN corp USING (gram))
              GROUP BY 1
            )
            SELECT t2.bench_id, t2.n_grams,
                   CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
                   CAST(1000 * COALESCE(l.n_leaked, 0) // t2.n_grams
                     AS BIGINT) AS leak_milli
            FROM tot t2 LEFT JOIN lk l USING (bench_id)
        """,
        "decontaminate": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
            g AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(toks) >= 8
                  THEN list_transform(generate_series(1, len(toks)-7),
                         i -> array_to_string(toks[i:i+7], ' '))
                  ELSE CAST([] AS VARCHAR[]) END)) AS gram
              FROM t
            ),
            bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 7),
            hits AS (
              SELECT g.doc_id, count(*) AS n_hits
              FROM g JOIN bench USING (gram) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   d.doc_id % 50 = 7 AS is_bench,
                   h.n_hits IS NOT NULL AS contaminated,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
            FROM docs d LEFT JOIN hits h USING (doc_id)
        """,
        "token_budget_mix": f"""
            WITH {_DOCS_CTE}
            SELECT doc_id, source,
                   CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
                   CAST(sum(len(string_split(norm, ' '))) OVER w AS BIGINT)
                     AS cum_tokens,
                   sum(len(string_split(norm, ' '))) OVER w <= 500 AS taken
            FROM docs
            WINDOW w AS (
              PARTITION BY source
              ORDER BY substr(sha256('mix1|' || CAST(doc_id AS VARCHAR)), 1, 16),
                       doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        """,
        "cms_heavy": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
            idx AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(
                       CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS line_no
              FROM t
            ),
            content AS (
              SELECT doc_id, CAST(line_no AS INT) AS line_no,
                     array_to_string(
                       toks[(line_no-1)*8+1 : (line_no-1)*8+8], ' ') AS line
              FROM idx
            ),
            alllines AS MATERIALIZED (
              SELECT doc_id, 0 AS line_no,
                     CASE WHEN doc_id % 2 = 0 THEN '{BOILER_A}'
                          ELSE '{BOILER_B}' END AS line
              FROM docs
              UNION ALL SELECT doc_id, line_no, line FROM content
            ),
            cells AS MATERIALIZED (
              SELECT i AS row_idx,
                     ('0x' || substr(sha256(line), 1 + 8*i, 8))::UBIGINT
                       % {CMS_W} AS col_idx,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM alllines,
                   UNNEST(generate_series(0, {CMS_D - 1})) AS u(i)
              GROUP BY 1, 2
            ),
            truth AS (
              SELECT line, CAST(count(*) AS BIGINT) AS true_count
              FROM alllines GROUP BY line
            ),
            est AS (
              SELECT t2.line, t2.true_count,
                     CAST(min(c.cnt) AS BIGINT) AS est_count
              FROM truth t2
              CROSS JOIN UNNEST(generate_series(0, {CMS_D - 1})) AS u(i)
              JOIN cells c ON c.row_idx = u.i
               AND c.col_idx = ('0x' || substr(sha256(t2.line), 1 + 8*u.i, 8))
                     ::UBIGINT % {CMS_W}
              GROUP BY t2.line, t2.true_count
            )
            SELECT line, true_count, est_count,
                   est_count >= true_count AS over_ok,
                   est_count >= {LINE_DEDUP_MIN_COUNT} AS is_heavy_est
            FROM est
        """,
        "line_dedup": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
            idx AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(
                       CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS line_no
              FROM t
            ),
            content AS (
              SELECT doc_id, CAST(line_no AS INT) AS line_no,
                     array_to_string(
                       toks[(line_no-1)*8+1 : (line_no-1)*8+8], ' ') AS line
              FROM idx
            ),
            alllines AS (
              SELECT doc_id, 0 AS line_no,
                     CASE WHEN doc_id % 2 = 0 THEN '{BOILER_A}'
                          ELSE '{BOILER_B}' END AS line
              FROM docs
              UNION ALL SELECT doc_id, line_no, line FROM content
            ),
            freq AS (SELECT line, count(DISTINCT doc_id) AS c
                     FROM alllines GROUP BY line)
            SELECT a.doc_id,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN f.c < {LINE_DEDUP_MIN_COUNT}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   coalesce(string_agg(
                     CASE WHEN f.c < {LINE_DEDUP_MIN_COUNT} THEN a.line END,
                     chr(10) ORDER BY a.line_no), '') AS kept_text
            FROM alllines a JOIN freq f USING (line)
            GROUP BY a.doc_id
        """,
        "repetition_signals": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
            l AS (
              SELECT doc_id, toks,
                     list_transform(
                       generate_series(1, greatest(
                         CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)),
                       i -> array_to_string(
                         toks[(i-1)*8+1 : (i-1)*8+8], ' ')) AS lines0
              FROM t
            ),
            l2 AS (
              SELECT doc_id, toks,
                     CASE WHEN doc_id % 5 = 0
                          THEN list_concat(lines0, [lines0[1]])
                          ELSE lines0 END AS lines
              FROM l
            ),
            base AS (
              SELECT doc_id,
                     CAST(len(lines) AS BIGINT) AS n_lines,
                     CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
                       AS n_dup_lines,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(generate_series(1, len(toks)-1),
                                 i -> toks[i] || ' ' || toks[i+1])
                          ELSE CAST([] AS VARCHAR[]) END AS bg
              FROM l2
            ),
            cnt AS (
              SELECT doc_id, bigram, count(*) AS bn
              FROM (SELECT doc_id, unnest(bg) AS bigram FROM base)
              GROUP BY doc_id, bigram
            ),
            top AS (
              SELECT doc_id, bigram AS top_bigram,
                     CAST(bn AS BIGINT) AS top_bigram_n
              FROM (SELECT doc_id, bigram, bn, row_number() OVER
                      (PARTITION BY doc_id ORDER BY bn DESC, bigram ASC) AS rk
                    FROM cnt)
              WHERE rk = 1
            )
            SELECT b.doc_id, b.n_lines, b.n_dup_lines,
                   CAST(len(b.bg) AS BIGINT) AS n_bigrams,
                   coalesce(t.top_bigram, '') AS top_bigram,
                   coalesce(t.top_bigram_n, 0) AS top_bigram_n
            FROM base b LEFT JOIN top t USING (doc_id)
        """,
        "stratified_sample": """
            SELECT doc_id, lang,
                   substr(sha256('seed42|' || lang || ':'
                     || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
                   CASE WHEN lang = 'en'
                     THEN substr(sha256('seed42|' || lang || ':'
                       || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
                     ELSE substr(sha256('seed42|' || lang || ':'
                       || CAST(doc_id AS VARCHAR)), 1, 2) < '80'
                   END AS kept
            FROM documents
        """,
        "sketch_stats": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
                   ROUND(quantile_cont(value, 0.50), 4) AS p50_exact,
                   ROUND(quantile_cont(value, 0.90), 4) AS p90_exact,
                   TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p90_ok
            FROM events GROUP BY event_type
        """,
        "weighted_sample": """
            WITH s AS (
              SELECT lang, doc_id, n_chars,
                     ln((('0x' || substr(sha256('ws42|' || lang || ':'
                         || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1)
                        / 4294967296.0) / n_chars AS key
              FROM documents
            )
            SELECT lang, doc_id, n_chars, sample_rank FROM (
              SELECT lang, doc_id, n_chars,
                     CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY key DESC, doc_id) AS BIGINT) AS sample_rank
              FROM s
            ) WHERE sample_rank <= 20
        """,
        "dup_components": """
            SELECT doc_id, doc_id - doc_id % 8 AS component
            FROM documents
        """,
        "pagerank": _pagerank_oracle_sql(),
        "pagerank_dangling": _pagerank_oracle_sql(
            edge_filter="src % 97 <> 0", dangling_redistribute=True
        ),
        "pagerank_by_host": _pagerank_oracle_sql(
            final_select="""
        SELECT 'site-' || CAST(node % 7 AS VARCHAR) || '.example.com' AS host,
               CAST(SUM(rank_mi) AS BIGINT) AS host_rank_mi,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM r10 GROUP BY 1"""
        ),
        "graph_prior": _pagerank_oracle_sql(
            final_select="""
        SELECT d.doc_id,
               'site-' || CAST(d.doc_id % 7 AS VARCHAR) || '.example.com'
                 AS host,
               h.host_rank_mi,
               h.host_rank_mi * t.tot_docs >= t.tot_rank * h.n_docs
                 AS graph_keep
        FROM documents d
        JOIN (
          SELECT CAST(node % 7 AS BIGINT) AS hk,
                 CAST(SUM(rank_mi) AS BIGINT) AS host_rank_mi,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM r10 GROUP BY 1
        ) h ON h.hk = d.doc_id % 7
        CROSS JOIN (
          SELECT CAST(SUM(rank_mi) AS BIGINT) AS tot_rank,
                 CAST(count(*) AS BIGINT) AS tot_docs
          FROM r10
        ) t"""
        ),
        "extract_links": """
            SELECT doc_id,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 0 ELSE 3 END
                     AS BIGINT) AS n_links,
                   CASE doc_id % 3
                     WHEN 1 THEN '/,/tags,/about'
                     WHEN 2 THEN '/x1,/x2,/x3'
                     ELSE '' END AS links
            FROM documents
            WHERE doc_id % 50 <> 7 AND doc_id % 40 <> 11
              AND doc_id % 40 <> 31
        """,
        "resolve_links": """
            WITH b AS (
              SELECT doc_id,
                     'https://' || CASE
                       WHEN (CASE WHEN doc_id % 10 = 9 THEN doc_id - 9
                                  ELSE doc_id END) % 5 < 2
                       THEN 'hot.example.com'
                       ELSE 'site-' || CAST((CASE WHEN doc_id % 10 = 9
                                 THEN doc_id - 9 ELSE doc_id END) % 97
                              AS VARCHAR) || '.example.com'
                     END AS base
              FROM documents
              WHERE doc_id % 50 <> 7 AND doc_id % 40 <> 11
                AND doc_id % 40 <> 31
            )
            SELECT doc_id,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 0 ELSE 3 END
                     AS BIGINT) AS n_links,
                   CASE doc_id % 3
                     WHEN 1 THEN base || '/,' || base || '/tags,'
                                 || base || '/about'
                     WHEN 2 THEN base || '/x1,' || base || '/x2,'
                                 || base || '/x3'
                     ELSE '' END AS resolved
            FROM b
        """,
        "anchor_text": """
            WITH eligible AS (
              SELECT doc_id FROM documents
              WHERE doc_id % 50 <> 7 AND doc_id % 40 <> 11
                AND doc_id % 40 <> 31
            ),
            counts AS (
              SELECT CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS nav,
                     CAST(SUM(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS farm
              FROM eligible
            )
            SELECT href, n_inlinks, anchor_texts FROM (
              SELECT '/' AS href, nav AS n_inlinks,
                     'Home' AS anchor_texts FROM counts
              UNION ALL SELECT '/tags', nav, 'Tags' FROM counts
              UNION ALL SELECT '/about', nav, 'About' FROM counts
              UNION ALL SELECT '/x1', farm, 'cheap deals now' FROM counts
              UNION ALL SELECT '/x2', farm, 'best offers today' FROM counts
              UNION ALL SELECT '/x3', farm, 'click here fast' FROM counts
            ) WHERE n_inlinks > 0
        """,
        "anchor_text_salted": """
            WITH eligible AS (
              SELECT doc_id FROM documents
              WHERE doc_id % 50 <> 7 AND doc_id % 40 <> 11
                AND doc_id % 40 <> 31
            ),
            counts AS (
              SELECT CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS nav,
                     CAST(SUM(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS farm,
                     CAST(COUNT(*) AS BIGINT) AS tot
              FROM eligible
            )
            SELECT href, n_inlinks, anchor_texts FROM (
              SELECT '/' AS href, nav + tot AS n_inlinks,
                     'Home,home-0,home-1,home-2' AS anchor_texts FROM counts
              UNION ALL SELECT '/tags', nav, 'Tags' FROM counts
              UNION ALL SELECT '/about', nav, 'About' FROM counts
              UNION ALL SELECT '/x1', farm, 'cheap deals now' FROM counts
              UNION ALL SELECT '/x2', farm, 'best offers today' FROM counts
              UNION ALL SELECT '/x3', farm, 'click here fast' FROM counts
            ) WHERE n_inlinks > 0
        """,
        "robots_filter": """
            SELECT doc_id,
                   'site-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                     AS host,
                   '/p/' || CAST(doc_id AS VARCHAR) AS path,
                   CASE doc_id % 7
                     WHEN 0 THEN starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/1')
                             AND NOT starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/12')
                     WHEN 1 THEN starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/2')
                     WHEN 3 THEN TRUE
                     WHEN 5 THEN NOT starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/5')
                     ELSE FALSE
                   END AS disallowed
            FROM documents
        """,
        "warc_charset": """
            SELECT doc_id,
                   CASE doc_id % 4 WHEN 0 THEN 'utf-8'
                        WHEN 1 THEN 'iso-8859-1'
                        WHEN 2 THEN 'utf-8-sig'
                        ELSE 'utf-16-le' END AS charset,
                   sha256(CASE doc_id % 4
                        WHEN 0 THEN text || ' — café 中文'
                        WHEN 1 THEN '<meta charset="iso-8859-1"> ' || text
                                    || ' café ±'
                        WHEN 2 THEN text || ' — naïve'
                        ELSE text || ' — Ωmega' END) AS text_sha,
                   CAST(length(CASE doc_id % 4
                        WHEN 0 THEN text || ' — café 中文'
                        WHEN 1 THEN '<meta charset="iso-8859-1"> ' || text
                                    || ' café ±'
                        WHEN 2 THEN text || ' — naïve'
                        ELSE text || ' — Ωmega' END) AS BIGINT) AS n_chars
            FROM documents
        """,
        "dsir_weights": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, lang, string_split(norm, ' ') AS toks FROM docs),
            g AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(sha256(gram), 1, 4))::UBIGINT % 256
                       AS BIGINT) AS bucket
              FROM (
                SELECT doc_id, lang, unnest(
                  CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks)-1),
                           i -> array_to_string(toks[i:i+1], ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
                FROM t
              )
            ),
            raw AS (SELECT bucket, count(*) AS r FROM g GROUP BY 1),
            tgt AS (SELECT bucket, count(*) AS tt FROM g WHERE lang = 'en' GROUP BY 1),
            tot AS (
              SELECT count(*) AS big_r,
                     count(*) FILTER (WHERE lang = 'en') AS big_t
              FROM g
            ),
            lam AS (
              SELECT raw.bucket,
                     CAST(round((ln((coalesce(tt, 0) + 1) / (big_t + 256.0))
                               - ln((r + 1) / (big_r + 256.0))) * 1e6)
                       AS BIGINT) AS lam_mi
              FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
            ),
            per AS (
              SELECT doc_id, count(*) AS n_grams, sum(lam_mi) AS imp
              FROM g JOIN lam USING (bucket) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(per.imp, 0) AS BIGINT) AS importance_micro
            FROM docs d LEFT JOIN per USING (doc_id)
        """,
        "bm25_search": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
            d2 AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
            stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d2),
            terms(query_id, term) AS (VALUES
              ('q1','hash'), ('q1','join'), ('q1','merge'),
              ('q2','window'), ('q2','stream'), ('q2','batch'),
              ('q3','scan'), ('q3','filter'), ('q3','column')),
            hit AS (
              SELECT * FROM (
                SELECT doc_id, dl, query_id, term,
                       len(list_filter(toks, x -> x = term)) AS tf
                FROM d2 CROSS JOIN terms
              ) WHERE tf > 0
            ),
            df_t AS (
              SELECT query_id, term, count(*) AS df
              FROM hit GROUP BY 1, 2
            ),
            scored AS (
              SELECT query_id, doc_id,
                     CAST(round(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs) / sum_dl))
                       * 1e6) AS BIGINT) AS contrib_mi
              FROM hit JOIN df_t USING (query_id, term) CROSS JOIN stats
            )
            SELECT query_id, doc_id, score_micro, rank FROM (
              SELECT query_id, doc_id, sum(contrib_mi) AS score_micro,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY sum(contrib_mi) DESC, doc_id) AS BIGINT) AS rank
              FROM scored GROUP BY query_id, doc_id
            ) WHERE rank <= 10
        """,
        "warc_extract": """
            SELECT doc_id,
                   'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
                   sha256(text) AS payload_sha,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        """,
        "pii_scrub": f"""
            WITH {_DOCS_CTE},
            t AS (
              SELECT doc_id, {PII_TAINT_SQL} AS t
              FROM docs
            )
            SELECT doc_id,
              CAST(len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
                AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(t,
                '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS BIGINT) AS n_phones,
              CAST(len(regexp_extract_all(t,
                '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
                AS BIGINT) AS n_ips,
              regexp_replace(regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                '[EMAIL]', 'g'),
                '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '[PHONE]', 'g'),
                '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
                '[IP]', 'g') AS scrubbed
            FROM t
        """,
        "url_canonicalize": """
            WITH u AS (
              SELECT doc_id,
                     'HTTPS://Site-' || (doc_id % 7)
                     || '.Example.COM/Path/' || (doc_id % 50)
                     || CASE doc_id % 4
                          WHEN 1 THEN '/'
                          WHEN 2 THEN '?utm_source=x&b=2&a=1'
                          WHEN 3 THEN '?a=1&b=2#frag'
                          ELSE '' END AS url
              FROM documents
            ),
            p AS (
              SELECT doc_id, url,
                     regexp_extract(regexp_replace(url, '(?s)#.*\\z', ''),
                                    '^([^?]*)', 1) AS base,
                     regexp_extract(regexp_replace(url, '(?s)#.*\\z', ''),
                                    '(?s)\\?(.*)\\z', 1) AS query
              FROM u
            ),
            b AS (
              SELECT doc_id,
                     regexp_replace(
                       lower(regexp_extract(base,
                         '(?i)^(https?://[^/?#]+)', 1))
                       || substr(base,
                            length(regexp_extract(base,
                              '(?i)^(https?://[^/?#]+)', 1)) + 1),
                       '/+\\z', '') AS base_clean,
                     list_sort(list_filter(string_split(query, '&'),
                       x -> length(x) > 0 AND NOT regexp_matches(x,
                         '^(utm_[^=&]*|gclid|fbclid|ref)(=|\\z)'))) AS kept
              FROM p
            ),
            c AS (
              SELECT doc_id,
                     CASE WHEN len(kept) > 0
                       THEN base_clean || '?' || array_to_string(kept, '&')
                       ELSE base_clean END AS canon_url
              FROM b
            )
            SELECT doc_id, canon_url,
                   row_number() OVER (PARTITION BY canon_url
                     ORDER BY doc_id) > 1 AS is_url_alias
            FROM c
        """,
        "simhash_recall": """
            SELECT CAST(2 * count(DISTINCT source) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_planted,
                   TRUE AS recall_ok
            FROM documents
        """,
        # The pipeline's row accounting re-derived from the synthesis
        # rules (pages.py): url dups doc_id%10==9 are dropped by
        # keep-first, errors are %50==7 survivors, exact-dup marks are
        # the %20==13 content copies (one mark per copy pair).
        "capped_details": """
            WITH r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source
                       ORDER BY doc_id, n_chars) AS rk
              FROM documents
            )
            SELECT source,
                   (SELECT CAST(count(*) AS BIGINT) FROM documents d
                    WHERE d.source = r.source) AS n_rows,
                   string_agg(CASE WHEN rk <= 20
                     THEN doc_id || ':' || n_chars END, ';'
                     ORDER BY doc_id, n_chars) AS first20_details
            FROM r GROUP BY source
        """,
        "extract_text_pin": f"""
            -- Independent re-derivation of the kernel's expected output
            -- text from the synthesis rules (pages.py), entirely in SQL:
            -- survivors of keep-first url dedup are exactly the
            -- doc_id%10!=9 rows (the url-dup row always carries the
            -- LATER warc_ts); content/near dups borrow the previous
            -- doc's body; pdf payload rows flatten to one line, html
            -- rows join heading+body with a blank line; error rows
            -- (invalid utf-8 payload) have NULL text.
            WITH d AS (SELECT doc_id, text FROM documents),
            j AS (
              SELECT d.doc_id, d.text, p.text AS prev_text
              FROM d LEFT JOIN d p ON p.doc_id = d.doc_id - 1
              WHERE d.doc_id % 10 != 9
            ),
            flags AS (
              SELECT doc_id, text, prev_text,
                     doc_id % 50 = 7 AS is_error,
                     (doc_id % 20 = 13 AND prev_text IS NOT NULL) AS is_cdup,
                     (doc_id % 25 = 21 AND prev_text IS NOT NULL) AS is_ndup,
                     (doc_id % 40 = 11 AND doc_id % 50 != 7)
                       OR (doc_id % 40 = 31 AND doc_id % 50 != 7) AS is_pdf
              FROM j
            ),
            body AS (
              SELECT doc_id, is_error, is_pdf,
                     CASE WHEN is_cdup OR is_ndup
                          THEN doc_id - 1 ELSE doc_id END AS content_id,
                     CASE WHEN is_cdup THEN prev_text
                          WHEN is_ndup THEN prev_text || ' drift tail token'
                          ELSE text END AS raw_body
              FROM flags
            ),
            built AS (
              SELECT doc_id, is_error,
                     'https://' || CASE WHEN doc_id % 5 < 2
                         THEN 'hot.example.com'
                         ELSE 'site-' || (doc_id % 97) || '.example.com'
                       END || '/page/' || doc_id AS url,
                     CASE WHEN is_error THEN NULL
                       ELSE concat_ws(CASE WHEN is_pdf THEN ' '
                                           ELSE chr(10) || chr(10) END,
                         'Document number ' || content_id,
                         trim(regexp_replace(regexp_replace(regexp_replace(
                           raw_body, '\\\\n', ' ', 'g'), '\\n', ' ', 'g'),
                           '{_WS}+', ' ', 'g')))
                     END AS etext
              FROM body
            )
            SELECT url,
                   CASE WHEN is_error THEN 'error'
                        WHEN trim(etext) = '' THEN 'not_found'
                        ELSE 'found' END AS status,
                   sha256(etext) AS text_sha,
                   CAST(length(etext) AS INT) AS n_chars
            FROM built
        """,
        "pipeline_counts": """
            SELECT CAST(count(*) FILTER (WHERE doc_id % 10 != 9)
                     AS BIGINT) AS n_rows,
                   CAST(count(*) FILTER (WHERE doc_id % 10 != 9
                     AND doc_id % 50 = 7) AS BIGINT) AS n_error,
                   CAST(count(*) FILTER (WHERE doc_id % 20 = 13
                     AND doc_id >= 1) AS BIGINT) AS n_exact_dup
            FROM documents
        """,
        "token_counts": f"""
            WITH {_DOCS_CTE}
            SELECT doc_id,
                   len(string_split(lower(trim(norm)), ' ')) AS n_ws_tokens,
                   len(regexp_extract_all(norm, '\\w+')) AS n_re_tokens
            FROM docs
        """,
        "fingerprint": f"""
            WITH {_DOCS_CTE}
            SELECT doc_id,
                   md5(array_to_string(
                     list_slice(string_split(lower(trim(norm)), ' '), 1, 12),
                     ' ')) AS fp
            FROM docs
        """,
        "ngram_jaccard": f"""
            WITH {_DOCS_CTE},
            t AS (SELECT doc_id, source,
                         list_distinct(string_split(norm, ' ')) AS toks
                  FROM docs WHERE doc_id < 2500)
            SELECT doc_a, doc_b, jaccard FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                       (len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
              FROM t a JOIN t b
                ON a.source = b.source AND a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.2
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id < 5
            ),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) AS cs
              FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, vec_id, round(cs, 4) AS cos_sim, rank FROM (
              SELECT query_id, vec_id, cs, row_number() OVER
                (PARTITION BY query_id ORDER BY cs DESC, vec_id ASC) AS rank
              FROM s
            ) WHERE rank <= 5
        """,
        "bloom_seen": f"""
            WITH {_DOCS_CTE},
            k AS (
              SELECT doc_id, sha256(COALESCE(norm, '')) AS h FROM docs),
            committed AS MATERIALIZED (
              SELECT DISTINCT h FROM k WHERE doc_id % 2 = 0),
            setpos AS MATERIALIZED (
              -- bloom positions re-hash the KEY COLUMN (itself a hex
              -- content hash here) through sha256, exactly like
              -- functions/bloom.py _bloom_positions
              SELECT DISTINCT
                     ('0x' || substr(sha256(h), 1 + 8*i, 8))::UBIGINT
                       % {BLOOM_BITS} AS pos
              FROM committed,
                   UNNEST(generate_series(0, {BLOOM_HASHES - 1})) AS u(i)),
            probe AS (
              SELECT doc_id,
                     ('0x' || substr(sha256(h), 1 + 8*i, 8))::UBIGINT
                       % {BLOOM_BITS} AS pos
              FROM k, UNNEST(generate_series(0, {BLOOM_HASHES - 1})) AS u(i)),
            m AS (
              SELECT p.doc_id, bool_and(s.pos IS NOT NULL) AS maybe_seen
              FROM probe p LEFT JOIN setpos s ON p.pos = s.pos
              GROUP BY p.doc_id)
            SELECT k.doc_id, m.maybe_seen,
                   (k.h IN (SELECT h FROM committed)) AS truly_seen,
                   (m.maybe_seen AND k.h NOT IN (SELECT h FROM committed))
                     AS is_fp
            FROM k JOIN m USING (doc_id)
        """,
        "semdedup_canon_law": """
            SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                   true AS all_canons_kept,
                   true AS canon_le_id,
                   true AS kept_are_self_canon
            FROM embeddings WHERE vec_id < 1000
        """,
        "semdedup_recall": """
            WITH e0 AS (
              SELECT vec_id,
                     CASE WHEN vec_id % 100 = 0
                       THEN list_transform(generate_series(0, 63),
                              j -> CAST(100 AS DOUBLE)
                                   + CAST((vec_id // 100 + j) % 5 AS DOUBLE))
                       ELSE embedding::DOUBLE[] END AS v
              FROM embeddings
              WHERE vec_id < 1000),
            e1 AS (
              SELECT vec_id, v,
                     sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
              FROM e0),
            e AS (
              SELECT vec_id, list_transform(v, x -> x / nrm) AS u
              FROM e1 WHERE nrm > 0),
            tm AS (
              SELECT DISTINCT b.vec_id
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE round(list_dot_product(a.u, b.u), 4) >= 0.9)
            SELECT (SELECT count(*) FROM e0) AS n_vectors,
                   (SELECT count(*) FROM tm) AS n_truth_marks,
                   true AS recall_ok,
                   true AS no_false_marks
        """,
        "embedding_neardup": """
            WITH e0 AS (
              SELECT vec_id,
                     CASE WHEN vec_id % 100 = 0
                       THEN list_transform(generate_series(0, 63),
                              j -> CAST(100 AS DOUBLE)
                                   + CAST((vec_id // 100 + j) % 5 AS DOUBLE))
                       ELSE embedding::DOUBLE[] END AS v
              FROM embeddings
              WHERE vec_id < 1000),
            e1 AS (
              SELECT vec_id, v,
                     sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
              FROM e0),
            e AS (
              SELECT vec_id, list_transform(v, x -> x / nrm) AS u
              FROM e1 WHERE nrm > 0)
            SELECT id_a, id_b, cos_sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_dot_product(a.u, b.u), 4) AS cos_sim
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.9
        """,
        "full_process": _CHUNKS_CTE + f""",
            {_TARGETS_SQL},
            {_MATCHED_PAGES_SQL}
            SELECT target_id, source,
                   string_agg(norm, e'\n\n' ORDER BY doc_id) AS refined_text,
                   count(*) AS n_pages
            FROM pj GROUP BY target_id, source
        """,
        "two_pass_localization": f"""
            WITH {_DOCS_CTE},
            {_TARGETS_SQL},
            raw AS (
              SELECT t.target_id, d.doc_id,
                     CAST(list_sum(list_transform(t.tokens, tok ->
                CASE WHEN regexp_matches(tok, '^\\d+$')
                     THEN CASE WHEN contains(' ' || regexp_replace(upper(d.norm),
                            '[^\\p{{L}}\\p{{N}}_]+', ' ', 'g') || ' ',
                            ' ' || tok || ' ') THEN 1 ELSE 0 END
                     ELSE CASE WHEN contains(upper(d.norm), tok)
                          THEN 1 ELSE 0 END
                END)) AS DOUBLE) / len(t.tokens) AS s
              FROM docs d CROSS JOIN targets t
            ),
            p1 AS (
              SELECT target_id, doc_id, round(s, 4) AS score, 1 AS pass_no
              FROM raw WHERE s >= 0.6),
            missed AS (
              SELECT target_id FROM targets
              EXCEPT SELECT DISTINCT target_id FROM p1),
            p2 AS (
              SELECT r.target_id, r.doc_id, round(r.s, 4) AS score,
                     2 AS pass_no
              FROM raw r JOIN missed m ON m.target_id = r.target_id
              WHERE r.s >= 1.0/3)
            SELECT * FROM p1 UNION ALL SELECT * FROM p2
        """,
        "salted_rollup": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang
        """,
        "json_extract": """
            WITH b AS (
              SELECT doc_id,
                     'noise [{"encontrado": '
                     || CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END
                     || ', "inmueble": "D' || doc_id || '"}] trailing noise'
                       AS blob
              FROM documents)
            SELECT doc_id,
                   CAST(regexp_extract(blob, '(\\[.*\\])', 1)::JSON
                        ->0->>'encontrado' AS BOOLEAN) AS encontrado,
                   regexp_extract(blob, '(\\[.*\\])', 1)::JSON
                        ->0->>'inmueble' AS inmueble
            FROM b
        """,
        "full_process_capped": _CHUNKS_CTE + f""",
            {_TARGETS_SQL},
            {_MATCHED_PAGES_SQL}
            SELECT target_id, source,
                   string_agg(norm, e'\n\n' ORDER BY doc_id) AS refined_text,
                   count(*) AS n_pages
            FROM (SELECT *, row_number() OVER (PARTITION BY target_id, source
                                               ORDER BY doc_id) AS rn
                  FROM pj)
            WHERE rn <= 20 GROUP BY target_id, source
        """,
        "media_meta": """
            WITH m AS (
              SELECT doc_id AS media_id,
                     CASE doc_id % 3 WHEN 0 THEN 'image'
                          WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     octet_length(encode(text)) AS n_bytes
              FROM documents)
            SELECT media_id, kind, n_bytes,
                   CAST(CASE WHEN kind = 'image' THEN 64 + n_bytes % 577
                        ELSE 0 END AS INT) AS width,
                   CAST(CASE WHEN kind = 'image' THEN 48 + n_bytes % 331
                        ELSE 0 END AS INT) AS height,
                   round(CASE WHEN kind = 'audio' THEN n_bytes / 5000.0
                         WHEN kind = 'video' THEN (n_bytes // 1024) / 24.0
                         ELSE 0.0 END, 4) AS duration_s
            FROM m
        """,
        "media_resize_plan": """
            WITH m AS (
              SELECT doc_id AS media_id,
                     CAST(64 + octet_length(encode(text)) % 577 AS INT) AS width,
                     CAST(48 + octet_length(encode(text)) % 331 AS INT) AS height
              FROM documents WHERE doc_id % 3 = 0)
            SELECT media_id, width, height,
                   CAST(CASE WHEN greatest(width, height) > 256
                        THEN floor(width * 256.0 / greatest(width, height))
                        ELSE width END AS INT) AS new_width,
                   CAST(CASE WHEN greatest(width, height) > 256
                        THEN floor(height * 256.0 / greatest(width, height))
                        ELSE height END AS INT) AS new_height
            FROM m
        """,
        "video_frames": """
            WITH m AS (
              SELECT doc_id AS media_id, octet_length(encode(text)) AS n
              FROM documents WHERE doc_id % 3 = 2)
            SELECT media_id, frame_idx, frame_idx * 1024 AS byte_offset
            FROM (
              SELECT media_id,
                     unnest(generate_series(0, greatest(n // 1024 - 1, 0), 24))
                       AS frame_idx
              FROM m)
        """,
        "audio_chunks": """
            WITH m AS (
              SELECT doc_id AS media_id,
                     round(octet_length(encode(text)) / 5000.0, 4) AS duration_s
              FROM documents WHERE doc_id % 3 = 1),
            a AS (
              SELECT media_id, duration_s,
                     CAST(ceil(greatest(duration_s - 1.0, 0.0) / 4.0) AS BIGINT)
                       AS n_chunks
              FROM m WHERE duration_s > 0)
            SELECT media_id, chunk_idx,
                   CAST(round(chunk_idx * 4.0, 4) AS DOUBLE) AS start_s,
                   CAST(round(least(chunk_idx * 4.0 + 5.0, duration_s), 4)
                        AS DOUBLE) AS end_s
            FROM (
              SELECT media_id, duration_s,
                     unnest(generate_series(0, greatest(n_chunks - 1, 0)))
                       AS chunk_idx
              FROM a)
        """,
        # High-nibble byte histogram recomputed in pure SQL: hex() renders
        # two chars per byte; the char at odd positions (1-indexed 2i+1) IS
        # the high nibble. weight = n/total is IEEE double division of two
        # exact integers — bit-identical to the numpy computation.
        "media_features": """
            WITH m AS (
              SELECT doc_id AS media_id, upper(hex(encode(text))) AS hx
              FROM documents),
            by AS (
              SELECT media_id,
                     strpos('0123456789ABCDEF',
                            substr(hx, CAST(2 * i + 1 AS BIGINT), 1)) - 1
                       AS bin
              FROM (SELECT media_id, hx,
                           unnest(range(CAST(length(hx) / 2 AS BIGINT))) AS i
                    FROM m)),
            counts AS (
              SELECT media_id, bin, count(*) AS cnt
              FROM by GROUP BY media_id, bin),
            tot AS (
              SELECT media_id, count(*) AS total FROM by GROUP BY media_id),
            bins AS (SELECT unnest(range(16)) AS bin)
            SELECT m.media_id,
                   CAST(bins.bin AS INT) AS bin,
                   CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n,
                   CAST(COALESCE(c.cnt, 0) AS DOUBLE)
                     / greatest(COALESCE(t.total, 0), 1) AS weight
            FROM (SELECT DISTINCT media_id FROM m) m
            CROSS JOIN bins
            LEFT JOIN counts c ON c.media_id = m.media_id AND c.bin = bins.bin
            LEFT JOIN tot t ON t.media_id = m.media_id
        """,
    }
    # The CMS-prefiltered line dedup is pinned IDENTICAL to the exact
    # path — its oracle is literally the plain line_dedup SQL.
    out["line_dedup_cms"] = out["line_dedup"]
    return out


def _variants_sql() -> str:
    """DuckDB twin of q_localization_variants: F2 tokenization, F3
    forward+reverse synonym expansion (the member->group mapping is
    generated from the SAME dict as the Spark plan), F4 scoring."""
    from ocr_parallel_spark.operators.localization import (
        GENERIC_SYNONYMS,
        synonym_member_groups,
    )

    targets_sql = "vt(target_id, name) AS (VALUES " + ", ".join(
        f"({tid}, {name!r})" for tid, name in VARIANT_TARGETS
    ) + ")"
    case = "CASE t " + " ".join(
        f"WHEN {m!r} THEN [{', '.join(repr(g) for g in grp)}]"
        for m, grp in synonym_member_groups(GENERIC_SYNONYMS).items()
    ) + " ELSE [t] END"

    def score(tokens: str) -> str:
        hits = f"""list_sum(list_transform({tokens}, tok ->
            CASE WHEN regexp_matches(tok, '^\\d+$')
                 THEN CASE WHEN contains(' ' || regexp_replace(upper(d.norm),
                        '[^\\p{{L}}\\p{{N}}_]+', ' ', 'g') || ' ',
                        ' ' || tok || ' ') THEN 1 ELSE 0 END
                 ELSE CASE WHEN contains(upper(d.norm), tok)
                      THEN 1 ELSE 0 END
            END))"""
        return (
            f"CASE WHEN len({tokens}) > 0 THEN "
            f"CAST({hits} AS DOUBLE) / len({tokens}) ELSE 0.0 END"
        )

    return f"""
        WITH {_DOCS_CTE},
        {targets_sql},
        tok AS (
          SELECT target_id,
                 list_distinct(list_concat(
                   list_filter(
                     string_split_regex(
                       regexp_replace(
                         regexp_replace(upper(trim(name)), '\\s+', ' ', 'g'),
                         '\\s*-\\s*', ' ', 'g'),
                       '[\\s\\-_,]+'),
                     t -> length(t) >= 2),
                   regexp_extract_all(name, '(\\d+)', 1))) AS raw_tokens
          FROM vt
        ),
        exp AS (
          SELECT target_id, raw_tokens,
                 list_distinct(flatten(list_transform(raw_tokens,
                   t -> {case}))) AS exp_tokens
          FROM tok
        ),
        s AS (
          SELECT e.target_id, d.doc_id,
                 {score('e.raw_tokens')} AS sr,
                 {score('e.exp_tokens')} AS se
          FROM docs d CROSS JOIN exp e
        )
        SELECT target_id, doc_id,
               round(sr, 4) AS score_raw, round(se, 4) AS score_expanded,
               sr >= 0.6 AS matched_raw, se >= 0.6 AS matched_expanded
        FROM s
    """


def _langid_sql_parts() -> tuple[str, str, str]:
    """Shared langid SQL fragments (hits_select, greatest, case) used by
    _langid_sql, _curation_sql, and _curation_full_sql — one builder so
    a stopword or precedence tweak cannot desynchronize the oracles."""
    from ocr_parallel_spark.functions.text_quality import (
        LANG_PRECEDENCE,
        STOPWORDS,
    )

    hits_select = ", ".join(
        "len(list_filter(string_split(lower(trim(norm)), ' '), "
        f"t -> t IN ({', '.join(repr(w) for w in STOPWORDS[lang])}))) AS h_{lang}"
        for lang in LANG_PRECEDENCE
    )
    greatest = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_PRECEDENCE) + ")"
    case = "CASE "
    for lang in LANG_PRECEDENCE:
        case += f"WHEN best > 0 AND h_{lang} = best THEN '{lang}' "
    case += "ELSE 'und' END"
    return hits_select, greatest, case


def _curation_sql() -> str:
    """DuckDB twin of q_corpus_curation (langid + quality + dedup with
    first-failing-reason semantics; integer-exact thresholds)."""
    hits_select, greatest, case = _langid_sql_parts()
    return f"""
        WITH {_DOCS_CTE},
        h AS (SELECT doc_id, norm, {hits_select} FROM docs),
        b AS (SELECT *, {greatest} AS best FROM h),
        l AS (SELECT doc_id, norm, {case} AS pred_lang FROM b),
        q AS (
          SELECT doc_id, pred_lang,
                 CAST(len(string_split(lower(trim(norm)), ' ')) AS INT)
                   AS n_tokens,
                 length(norm) AS nc,
                 length(regexp_replace(lower(norm), '[^a-z]', '', 'g')) AS ac,
                 row_number() OVER (PARTITION BY sha256(norm)
                   ORDER BY doc_id) > 1 AS dup
          FROM l
        ),
        r AS (
          SELECT *, CASE WHEN pred_lang != 'en' THEN 'lang'
                    WHEN n_tokens < 30 THEN 'too_short'
                    WHEN ac * 2 < nc THEN 'low_alpha'
                    WHEN dup THEN 'dup' END AS drop_reason
          FROM q
        )
        SELECT doc_id, pred_lang, n_tokens,
               drop_reason IS NULL AS kept, drop_reason
        FROM r
    """


def _curation_full_sql() -> str:
    """DuckDB twin of q_curation_pipeline: every stage's fragment is the
    SAME SQL used by that stage's standalone oracle (lang hits, pii
    taint, moji taint, line-dedup CTEs, 8-gram contamination), joined on
    doc_id with the identical first-failing CASE."""
    from ocr_parallel_spark.functions.curation import PII_PATTERNS
    hits_select, greatest, case = _langid_sql_parts()
    pii_sum = " + ".join(
        f"len(regexp_extract_all(pt, '{pat}'))" for pat in PII_PATTERNS.values()
    )
    return f"""
        WITH {_DOCS_CTE},
        h AS (SELECT doc_id, norm, {hits_select} FROM docs),
        bb AS (SELECT *, {greatest} AS best FROM h),
        l AS (SELECT doc_id, {case} AS pred_lang,
                     CAST(len(string_split(lower(trim(norm)), ' ')) AS INT)
                       AS n_tokens
              FROM bb),
        pc AS (
          SELECT doc_id, {pii_sum} AS n_pii
          FROM (SELECT doc_id, {PII_TAINT_SQL} AS pt FROM docs)
        ),
        mc AS (
          SELECT doc_id,
                 len(regexp_extract_all(mt, '{MOJI_PATTERN}')) > 0
                 OR len(regexp_extract_all(mt, '{REPL_CHAR}')) > 0 AS suspect_encoding
          FROM (
            SELECT doc_id,
              norm
              || CASE WHEN doc_id % 4 = 1 THEN '{MOJI_TAINT}' ELSE '' END
              || CASE WHEN doc_id % 10 = 2 THEN '{REPL_TAINT}' ELSE '' END
              AS mt
            FROM docs
          )
        ),
        t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
        idx AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(
                   CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS line_no
          FROM t
        ),
        content AS (
          SELECT doc_id, CAST(line_no AS INT) AS line_no,
                 array_to_string(
                   toks[(line_no-1)*8+1 : (line_no-1)*8+8], ' ') AS line
          FROM idx
        ),
        alllines AS (
          SELECT doc_id, 0 AS line_no,
                 CASE WHEN doc_id % 2 = 0 THEN '{BOILER_A}'
                      ELSE '{BOILER_B}' END AS line
          FROM docs
          UNION ALL SELECT doc_id, line_no, line FROM content
        ),
        freq AS (SELECT line, count(DISTINCT doc_id) AS c
                 FROM alllines GROUP BY line),
        lined AS (
          SELECT a.doc_id,
                 CAST(sum(CASE WHEN f.c < {LINE_DEDUP_MIN_COUNT}
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_lines,
                 coalesce(string_agg(
                   CASE WHEN f.c < {LINE_DEDUP_MIN_COUNT} THEN a.line END,
                   chr(10) ORDER BY a.line_no), '') AS kept_text
          FROM alllines a JOIN freq f USING (line)
          GROUP BY a.doc_id
        ),
        g AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(toks) >= 8
              THEN list_transform(generate_series(1, len(toks)-7),
                     i -> array_to_string(toks[i:i+7], ' '))
              ELSE CAST([] AS VARCHAR[]) END)) AS gram
          FROM t
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 7),
        hit AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)),
        dd AS (
          SELECT doc_id, row_number() OVER
            (PARTITION BY sha256(kept_text) ORDER BY doc_id) > 1 AS dup
          FROM lined
        ),
        r AS (
          SELECT l.doc_id, l.pred_lang, l.n_tokens,
                 CAST(pc.n_pii AS BIGINT) AS n_pii,
                 lined.n_kept_lines,
                 hit.doc_id IS NOT NULL AS contaminated,
                 CASE WHEN mc.suspect_encoding THEN 'encoding'
                      WHEN l.pred_lang != 'en' THEN 'lang'
                      WHEN l.n_tokens < 30 THEN 'too_short'
                      WHEN pc.n_pii >= 2 THEN 'pii'
                      WHEN lined.n_kept_lines = 0 THEN 'boilerplate'
                      WHEN hit.doc_id IS NOT NULL THEN 'contaminated'
                      WHEN dd.dup THEN 'dup' END AS drop_reason
          FROM l
          JOIN pc USING (doc_id)
          JOIN mc USING (doc_id)
          JOIN lined USING (doc_id)
          JOIN dd USING (doc_id)
          LEFT JOIN hit USING (doc_id)
        )
        SELECT doc_id, pred_lang, n_tokens, n_pii, n_kept_lines,
               contaminated, drop_reason IS NULL AS kept, drop_reason
        FROM r
    """


def _boundaries_sql() -> str:
    """DuckDB twin of q_full_process_boundaries: the same F5-F7 char
    arithmetic via substr/strpos/list lambdas, page mapping via window
    sums, densest run via gap-flag sessionization. Constants interpolated
    from operators.boundaries so the two engines cannot drift."""
    from ocr_parallel_spark.operators import boundaries as B

    targets_b = "targets_b(target_id, tokens, anchor) AS (VALUES " + ", ".join(
        f"({tid}, [{', '.join(repr(t) for t in toks)}], {toks[0]!r})"
        for tid, toks in TARGETS
    ) + ")"

    def marker_case(var: str) -> str:
        # 0-based position of the first occurrence of the highest-priority
        # start marker present in the window (F5 pattern loop with break).
        parts = []
        for m in BOUNDARY_START_MARKERS:
            parts.append(f"WHEN strpos({var}, {m!r}) > 0 THEN strpos({var}, {m!r}) - 1")
        return "CASE " + " ".join(parts) + " END"

    # F4 per-page match, exact integer threshold (3/5 = 0.6).
    page_match = """
        len(t.tokens) > 0 AND 5 * list_sum(list_transform(t.tokens, tok ->
            CASE WHEN regexp_matches(tok, '^\\d+$')
                 THEN CASE WHEN contains(' ' || regexp_replace(upper(d.norm),
                        '[^\\p{L}\\p{N}_]+', ' ', 'g') || ' ',
                        ' ' || tok || ' ') THEN 1 ELSE 0 END
                 ELSE CASE WHEN contains(upper(d.norm), tok)
                      THEN 1 ELSE 0 END
            END)) >= 3 * len(t.tokens)
    """

    # F6 end candidates: after-markers run through the F7 section end
    # (".\n\n" paragraph end -> match end = pos+3, else pos+500 capped).
    end_cands = []
    for m in BOUNDARY_END_AFTER:
        fm = f"strpos(stext, {m!r})"
        rel = f"strpos(substr(stext, {fm} + {len(m)}, {B.MAX_SEARCH_LENGTH}), e'.\\n\\n')"
        end_cands.append(
            f"CASE WHEN {fm} > 0 THEN "
            f"(CASE WHEN {rel} > 0 THEN {fm} - 1 + {len(m)} + {rel} - 1 + 3 "
            f"ELSE least({fm} - 1 + {len(m)} + {B.SECTION_FALLBACK_CHARS}, slen) END) END"
        )
    for m in BOUNDARY_END_BEFORE:
        end_cands.append(f"CASE WHEN strpos(stext, {m!r}) > 0 THEN strpos(stext, {m!r}) - 1 END")
    earliest = "least(" + ", ".join(end_cands) + ")"

    return _CHUNKS_CTE + f""",
        {targets_b},
        loc AS (
          SELECT t.target_id, c.source, c.start_doc_id, c.end_doc_id
          FROM chunks c CROSS JOIN targets_b t
          WHERE CAST(list_sum(list_transform(t.tokens, tok ->
            CASE WHEN regexp_matches(tok, '^\\d+$')
                 THEN CASE WHEN contains(' ' || regexp_replace(upper(c.chunk_text),
                        '[^\\p{{L}}\\p{{N}}_]+', ' ', 'g') || ' ',
                        ' ' || tok || ' ') THEN 1 ELSE 0 END
                 ELSE CASE WHEN contains(upper(c.chunk_text), tok)
                      THEN 1 ELSE 0 END
            END)) AS DOUBLE) / len(t.tokens) >= 0.6
        ),
        pg AS (
          SELECT DISTINCT target_id, source,
                 unnest(generate_series(start_doc_id, end_doc_id)) AS doc_id
          FROM loc
        ),
        pj AS (
          SELECT p.target_id, p.source, p.doc_id, d.norm, t.tokens, t.anchor,
                 ({page_match}) AS matched
          FROM pg p JOIN docs d
            ON d.doc_id = p.doc_id AND d.source = p.source
          JOIN targets_b t ON t.target_id = p.target_id
        ),
        grp AS (
          SELECT target_id, source,
                 list(doc_id ORDER BY doc_id) AS page_ids,
                 string_agg(norm, e'\\n\\n' ORDER BY doc_id) AS full_text,
                 coalesce(list(doc_id ORDER BY doc_id)
                          FILTER (WHERE matched), []) AS matching,
                 any_value(tokens) AS tokens, any_value(anchor) AS anchor
          FROM pj GROUP BY target_id, source
        ),
        st AS (
          SELECT *, upper(full_text) AS U, length(full_text) AS n FROM grp
        ),
        s1 AS (
          SELECT *,
            list_filter(
              list_transform(
                list_transform(range(0, greatest(n - {B.START_WINDOW}, 0),
                                     {B.START_STRIDE}),
                  i -> struct_pack(i := i,
                        w := substr(U, CAST(i + 1 AS BIGINT), {B.START_WINDOW}))),
                s -> struct_pack(i := s.i,
                      hits := len(list_filter(tokens, t -> contains(s.w, t))),
                      mpos := {marker_case('s.w')})),
              s -> 2 * s.hits >= len(tokens) AND s.hits > 0
                   AND s.mpos IS NOT NULL) AS qual,
            list_filter(
              list_transform(range(0, greatest(n - {B.FALLBACK_WINDOW}, 0),
                                   {B.START_STRIDE}),
                i -> struct_pack(i := i,
                      w := substr(U, CAST(i + 1 AS BIGINT), {B.FALLBACK_WINDOW}))),
              s -> len(tokens) > 0
                   AND 10 * len(list_filter(tokens, t -> contains(s.w, t)))
                       >= 7 * len(tokens)
                   AND contains(s.w, anchor)) AS fq
          FROM st
        ),
        s2 AS (
          SELECT *,
            CASE WHEN len(matching) > 0 THEN coalesce(
              (list_filter(qual, s -> s.hits =
                 list_max(list_transform(qual, q -> q.hits))))[1].i
              + (list_filter(qual, s -> s.hits =
                 list_max(list_transform(qual, q -> q.hits))))[1].mpos,
              (fq)[1].i) END AS start0
          FROM s1
        ),
        en AS (
          SELECT *, CASE WHEN start0 IS NOT NULL
            THEN substr(U, CAST(start0 + 1 AS BIGINT), {B.MAX_SEARCH_LENGTH})
            END AS stext
          FROM s2
        ),
        en2 AS (
          SELECT *, length(stext) AS slen, {earliest} AS earliest FROM en
        ),
        en3 AS (
          SELECT *, CASE
            WHEN earliest IS NOT NULL AND earliest < slen THEN start0 + earliest
            WHEN slen > {B.HARD_END_CAP} THEN start0 + {B.HARD_END_CAP}
            END AS end0
          FROM en2
        ),
        pgo AS (
          SELECT target_id, source, doc_id, length(norm) AS plen,
                 coalesce(sum(length(norm) + {B.PAGE_SEP_LEN}) OVER
                   (PARTITION BY target_id, source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off0
          FROM pj
        ),
        mp AS (
          SELECT g.target_id, g.source,
                 min(CASE WHEN g.start0 >= p.off0
                      AND g.start0 < p.off0 + p.plen + {B.PAGE_SEP_LEN}
                      THEN p.doc_id END) AS start_page,
                 min(CASE WHEN g.end0 >= p.off0
                      AND g.end0 < p.off0 + p.plen + {B.PAGE_SEP_LEN}
                      THEN p.doc_id END) AS end_page
          FROM en3 g JOIN pgo p ON p.target_id = g.target_id
           AND p.source = g.source
          GROUP BY g.target_id, g.source
        ),
        dr0 AS (
          SELECT target_id, source, unnest(matching) AS p
          FROM en3 WHERE len(matching) > {B.DENSE_MIN_MATCHES}
        ),
        dr1 AS (
          SELECT *, CASE WHEN lag(p) OVER w IS NULL
                 OR p - lag(p) OVER w > {B.DENSE_GAP} THEN 1 ELSE 0 END AS flag
          FROM dr0 WINDOW w AS (PARTITION BY target_id, source ORDER BY p)
        ),
        dr2 AS (
          SELECT *, sum(flag) OVER (PARTITION BY target_id, source ORDER BY p
                 ROWS UNBOUNDED PRECEDING) AS gid
          FROM dr1
        ),
        dr3 AS (
          SELECT target_id, source, gid, count(*) AS cnt,
                 min(p) AS lo, max(p) AS hi
          FROM dr2 GROUP BY target_id, source, gid
        ),
        dense AS (
          SELECT target_id, source, lo, hi FROM (
            SELECT *, row_number() OVER (PARTITION BY target_id, source
                   ORDER BY cnt DESC, lo ASC) AS rk
            FROM dr3) WHERE rk = 1
        ),
        fin AS (
          SELECT g.*, m.start_page, m.end_page,
                 CASE WHEN len(g.matching) > {B.DENSE_MIN_MATCHES}
                   THEN list_filter(g.matching,
                          p -> p >= d.lo AND p <= d.hi)
                   ELSE g.matching END AS meff
          FROM en3 g
          JOIN mp m ON m.target_id = g.target_id AND m.source = g.source
          LEFT JOIN dense d ON d.target_id = g.target_id
           AND d.source = g.source
        ),
        fx AS (
          SELECT *,
            CASE WHEN len(matching) = 0 THEN 'fallback_first5'
                 WHEN start0 IS NOT NULL AND end0 IS NOT NULL
                  AND start_page IS NOT NULL AND end_page IS NOT NULL
                 THEN 'boundaries' ELSE 'expanded' END AS method,
            list_min(meff) AS mn, list_max(meff) AS mx,
            list_position(page_ids, list_min(meff)) AS i_min,
            list_position(page_ids, list_max(meff)) AS i_max
          FROM fin
        ),
        fy AS (
          SELECT *,
            page_ids[CAST(greatest(i_min - 1 - {B.EXPAND_BEFORE_IDX}, 0) + 1
                          AS BIGINT) :
                     CAST(least(len(page_ids),
                          i_max - 1 + {B.EXPAND_AFTER_IDX} + 1) AS BIGINT)]
              AS expanded,
            list_filter(page_ids, p -> p >= mn - {B.NUMERIC_BEFORE}
              AND p <= mx + {B.NUMERIC_AFTER})[1:{B.MAX_PAGES_WITHOUT_BOUNDARIES}]
              AS numeric_limited
          FROM fx
        ),
        fz AS (
          SELECT *,
            CASE method
              WHEN 'fallback_first5' THEN page_ids[1:{B.MAX_FALLBACK_PAGES}]
              WHEN 'boundaries' THEN list_filter(page_ids,
                p -> p >= start_page AND p <= end_page)
                [1:{B.MAX_PAGES_WITH_BOUNDARIES}]
              ELSE CASE WHEN len(expanded) > {B.MAX_PAGES_WITHOUT_BOUNDARIES}
                   THEN numeric_limited ELSE expanded END
            END AS final_pages
          FROM fy
        ),
        ft AS (
          SELECT f.*,
                 (SELECT string_agg(p.norm, e'\\n\\n' ORDER BY p.doc_id)
                  FROM pj p WHERE p.target_id = f.target_id
                    AND p.source = f.source
                    AND list_contains(f.final_pages, p.doc_id))
                   AS final_concat,
                 (SELECT o.off0 FROM pgo o WHERE o.target_id = f.target_id
                    AND o.source = f.source AND o.doc_id = f.start_page)
                   AS off_sp
          FROM fz f
        )
        SELECT target_id, source, method,
               array_to_string(list_transform(final_pages,
                 p -> CAST(p AS VARCHAR)), ',') AS pages_csv,
               CAST(len(final_pages) AS BIGINT) AS n_pages,
               CASE WHEN len(matching) > 0 THEN CAST(start0 AS BIGINT) END
                 AS start_char,
               CASE WHEN len(matching) > 0 THEN CAST(end0 AS BIGINT) END
                 AS end_char,
               CASE WHEN method = 'boundaries'
                 THEN substr(final_concat,
                        CAST(start0 - off_sp + 1 AS BIGINT),
                        CAST(end0 - start0 AS BIGINT))
                 ELSE final_concat END AS refined_text
        FROM ft
    """


def _langid_sql() -> str:
    hits_select, greatest, case = _langid_sql_parts()
    return f"""
        WITH {_DOCS_CTE},
        h AS (SELECT doc_id, {hits_select} FROM docs),
        b AS (SELECT doc_id, h_en, h_es, h_fr, h_de, {greatest} AS best FROM h)
        SELECT doc_id, {case} AS pred_lang FROM b
    """


def _quality_sql() -> str:
    from ocr_parallel_spark.functions.text_quality import STOPWORDS

    en = ", ".join(repr(w) for w in STOPWORDS["en"])
    return f"""
        WITH {_DOCS_CTE},
        f AS (
          SELECT doc_id,
                 length(norm) AS n_chars_norm,
                 len(string_split(lower(trim(norm)), ' ')) AS n_tokens,
                 length(regexp_replace(lower(norm), '[^a-z]', '', 'g'))
                   AS alpha_chars,
                 length(regexp_replace(norm, '[^.,;:!?]', '', 'g'))
                   AS punct_chars,
                 len(list_filter(string_split(lower(trim(norm)), ' '),
                     t -> t IN ({en}))) AS en_hits
          FROM docs
        )
        SELECT doc_id, n_chars_norm, n_tokens,
               round(CASE WHEN n_tokens > 0
                 THEN CAST(n_chars_norm AS DOUBLE) / n_tokens ELSE 0.0 END, 4)
                 AS mean_token_len,
               round(CASE WHEN n_tokens > 0
                 THEN CAST(en_hits AS DOUBLE) / n_tokens ELSE 0.0 END, 4)
                 AS stopword_ratio,
               round(CASE WHEN n_chars_norm > 0
                 THEN CAST(alpha_chars AS DOUBLE) / n_chars_norm ELSE 0.0 END, 4)
                 AS alpha_ratio,
               round(CASE WHEN n_chars_norm > 0
                 THEN CAST(punct_chars AS DOUBLE) / n_chars_norm ELSE 0.0 END, 4)
                 AS punct_ratio
        FROM f
    """
