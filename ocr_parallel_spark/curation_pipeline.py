"""The batch curation composition: docs in, one verdict row per doc out.

docs(doc_id, url, text, lang, source) -> per-document screens
(``curate_docs``: blocklist, language, length, PII; then the optional
robots, quality and LM screens, folded into ``drop_reason`` in that order,
so the first failing screen wins) -> inter-document line dedup (CCNet
boilerplate removal over the docs' real newlines; single-line docs fall
back to fixed-width word lines) -> optional benchmark decontamination ->
exact dedup on the CLEANED text -> optional MinHash near-dup -> optional
SemDedup -> optional span surgery and BPE counts on the kept text.

``scripts/job_curate.py`` reads the inputs and the committed state, calls
``run_curation_pipeline`` and commits the verdicts. The catalog queries
``q_curation_pipeline`` and ``q_corpus_curation`` compose their own
variants (planted banners, a dup window over all docs, an encoding
screen, no blocklist) and share no code with this one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_parallel_spark.functions.bloom import bloom_probe
from ocr_parallel_spark.functions.curation import (
    curate_docs,
    hashed_quality_scores,
    trained_quality_scores,
    word_lines,
    word_ngrams,
)
from ocr_parallel_spark.functions.lm import doc_surprise, fit_trigram_lm
from ocr_parallel_spark.functions.robots import apply_robots, parse_robots
from ocr_parallel_spark.functions.similarity import (
    MAX_CELL,
    _prep_vec,
    cosine_from_norms,
    kmeans_centroids,
    semdedup_marks,
)
from ocr_parallel_spark.functions.tokenize import bpe_token_counts
from ocr_parallel_spark.functions.urls import host_col
from ocr_parallel_spark.operators.classify import normalize_col
from ocr_parallel_spark.operators.dedup import excise_repeated_spans
from ocr_parallel_spark.operators.graph import connected_components
from ocr_parallel_spark.operators.linededup import dedup_lines
from ocr_parallel_spark.operators.neardup import (
    MAX_BAND_BUCKET,
    pairs_from_banded,
    with_minhash_bands,
)


def _fold(screens: DataFrame, flags: DataFrame, reason: str) -> DataFrame:
    """Left-join ``flags`` (``doc_id``, ``_flag``, extra columns) onto the
    screens: a doc no earlier screen dropped drops as ``reason`` where
    ``_flag`` is true. NULL flags keep; the extra columns ride along."""
    return (
        screens.join(flags, "doc_id", "left")
        .withColumn(
            "drop_reason",
            F.coalesce(
                F.col("drop_reason"),
                F.when(F.coalesce(F.col("_flag"), F.lit(False)), F.lit(reason)),
            ),
        )
        .drop("_flag")
    )


def _mark(j: DataFrame, ids: DataFrame, col: str) -> DataFrame:
    """Boolean ``col``: true for the doc_ids in ``ids`` (which must be
    distinct, or the left join fans rows out), false elsewhere."""
    return j.join(
        ids.select("doc_id").withColumn(col, F.lit(True)), "doc_id", "left"
    ).withColumn(col, F.coalesce(F.col(col), F.lit(False)))


def _jaccard_at_least(a: Column, b: Column, t: float) -> Column:
    """Exact Jaccard of two distinct-token arrays is at least ``t``."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter) >= t


def _capped_keys(
    new: DataFrame, prior: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """The ``keys`` whose COMBINED (new + committed) occupancy is at most
    ``cap``. Independent per-side caps would still admit cap x cap pairs;
    this bounds one bucket at (cap/2)^2, the guarantee the within-run
    operators give, so a degenerate key accumulated over many runs cannot
    grow a |new| x |committed| straggler. Overflow keys go unprobed, a
    bounded recall trade (ADVICE r4)."""
    return (
        new.select(*keys)
        .unionByName(prior.select(*keys))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= cap)
        .select(*keys)
    )


def run_curation_pipeline(
    docs: DataFrame,
    blocked_hosts: DataFrame | None = None,
    bench_docs: DataFrame | None = None,
    min_line_count: int = 5,
    robots_df: DataFrame | None = None,
    near_dup: bool = False,
    near_dup_threshold: float = 0.5,
    quality_filter: bool = False,
    quality_weights: DataFrame | None = None,
    lm_ref: DataFrame | None = None,
    lm_max_x16: int | None = 288,
    graph_prior: DataFrame | None = None,
    bpe_merges=None,
    prior_kept_hashes: DataFrame | None = None,
    prior_kept_neardup: DataFrame | None = None,
    prior_bloom: DataFrame | None = None,
    bloom_bits: int = 0,
    embeddings: DataFrame | None = None,
    sem_threshold: float = 0.9,
    sem_cells: int = 64,
    sem_centroids=None,
    prior_sem: DataFrame | None = None,
    sem_emb_type=None,
    excise_spans: bool = False,
) -> DataFrame:
    """The batch curation composition; returns one verdict row per doc.

    ``blocked_hosts``: DataFrame with a ``host`` column (empty screen if
    None). ``robots_df`` (host, robots_txt) adds the retroactive robots
    screen (functions/robots.py; a url with no path matches as '/').

    ``quality_filter=True`` adds the classifier screen. With
    ``quality_weights`` (a ``(_bucket, _wt)`` DataFrame fit by
    functions/curation.py train_quality_weights) the screen is the
    TRAINED ternary-vote classifier — measured precision/recall 1.0 on
    the held-out planted-taint benchmark the oracle-gated
    ``quality_trained`` query pins; docs with a positive vote sum drop as
    ``low_quality``. Without weights it falls back to the stand-in
    hashed-linear scorer (the ``quality_classifier`` gate's plumbing pin;
    negative milli-score drops) — keep/drop carries no trained signal.

    ``lm_ref`` (DataFrame of trusted reference docs with a ``text``
    column) adds the CCNet-style LM screen (functions/lm.py): a pruned
    trigram model is fit on the reference each run (deterministic given
    the same reference — incremental runs stay consistent) and docs
    whose average surprise exceeds ``lm_max_x16`` sixteenths-of-a-bit
    drop as ``high_surprise``; the per-doc score rides the verdict table
    as ``surprise_x16``. Docs too short to score (< 3 tokens, NULL
    average) are KEPT — brevity is not evidence of gibberish. The
    threshold is corpus-dependent (the lm_separation gate pins the
    RATIO, not the absolute); the default 288 (= 18 bits/gram) is a
    conservative start. ``lm_max_x16=None`` applies CCNet's actual cut
    instead: the tail tercile of this run's scored distribution, derived
    exactly like the ``lm_terciles`` catalog query.

    The robots, quality and LM screens fold into ``drop_reason`` BEFORE
    the content stages, so a screened-out doc can never claim a
    dup-canonical slot; the first failing screen wins.

    ``bench_docs``: DataFrame with a ``text`` column whose word 8-grams
    define the decontamination set (stage skipped if None).
    ``near_dup=True`` adds the fuzzy-dedup stage after exact dedup:
    MinHash-LSH candidates over the cleaned text -> exact-Jaccard verify
    >= ``near_dup_threshold`` -> connected components -> every
    non-canonical cluster member (canonical = min doc_id) dropped as
    ``near_dup`` — the composition the ``minhash_clusters`` catalog gate
    pins. It is opt-in because the LSH banding pass is the most expensive
    stage.

    INVARIANT: every input doc_id yields exactly one verdict row — a
    NULL-text doc flows through as ``boilerplate`` (text is coalesced to
    '' and the lines join is a left join), never silently lost and
    re-selected as TODO forever (ADVICE round 3).

    ``prior_kept_hashes`` (one ``content_sha`` column of the committed
    KEPT docs): a new doc whose cleaned text matches an already-committed
    kept doc drops as ``dup``, so exact dedup is correct across runs.
    Only kept hashes qualify — a doc whose committed twin was screened
    out must still get its own canonical slot. ``prior_bloom`` (the
    ``bloom_build`` word table over those hashes, ``bloom_bits`` wide)
    prefilters that probe; verdicts are identical with or without it.

    ``prior_kept_neardup`` (``doc_id``, ``kept_text``, ``minhash_bands``
    of committed KEPT docs): new docs band-join against the COMMITTED
    signatures and verify exact Jaccard against the committed cleaned
    text, so a near-dup pair split across runs drops too — the committed
    doc keeps its slot. Kept docs' band signatures persist in the
    verdicts table to make this one band-explode join, not a re-hash of
    the committed corpus.

    ``embeddings`` (``doc_id``, ``embedding``) adds SemDedup: k-means
    cells (``sem_cells``, or the pinned ``sem_centroids``), within-cell
    cosine >= ``sem_threshold`` marks, non-canonical members drop as
    ``sem_dup``. ``prior_sem`` (``doc_id``, ``sem_cell``, ``sem_emb`` of
    committed KEPT docs) extends it across runs: new surviving vectors
    probe the committed embeddings cell by cell. Only sound under a
    PINNED geometry — the committed ``sem_cell`` values were assigned
    under specific centroids, and a slice-local refit would put the same
    vector in a different cell (missed pairs, never false drops: every
    drop is exact-cosine-verified); job_curate proves the pin with a
    lineage digest before feeding it. Kept docs persist (``sem_cell``,
    ``sem_emb``); ``sem_emb_type`` pins the persisted element type to the
    committed column's.

    ``excise_spans`` cuts repeated 15-token windows from non-canonical
    kept docs; ``bpe_merges`` adds ``n_bpe_tokens`` of the kept text.

    Resume scope note: under run_resumable the corpus-global signals
    (line frequencies, the within-run near-dup components, the LM tail
    cut) see only the never-committed TODO slice of each run — a line
    must repeat within a run to be dropped. That is the standard
    incremental-curation tension; the arbiter is job_curate's
    ``--recompute``, which re-runs this composition over the full input
    and overwrites the committed verdicts. The per-document screens
    (curate_docs) need no global view, so they are exact under resume."""
    if blocked_hosts is None:
        blocked_hosts = docs.sparkSession.createDataFrame([], "host string")
    # The composition scans `docs` several times (screens, lines x2 via
    # dedup_lines' documented double read, grams); under run_resumable
    # that lineage is source-scan + committed-table anti-join, so pin it
    # once — checkpoint blocks are freed by the ContextCleaner when the
    # result is dropped (the dedup_lines docstring's own advice).
    docs = docs.localCheckpoint(eager=False)
    screens = curate_docs(docs, blocked_hosts)

    if robots_df is not None:
        path = F.regexp_extract(
            F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/\S*)?", 1
        )
        urls = docs.select(
            "doc_id",
            host_col(F.col("url")).alias("host"),
            F.when(path == "", F.lit("/")).otherwise(path).alias("path"),
        )
        verdict = apply_robots(urls, parse_robots(robots_df))
        screens = _fold(
            screens,
            verdict.select("doc_id", F.col("disallowed").alias("_flag")),
            "robots",
        )

    # One shared normalized frame for both model screens. NOTE this is
    # frame-level sharing only: each screen joins it in its own subtree,
    # so the regexp normalize is evaluated per branch over the
    # checkpointed docs scan — deliberately NOT re-checkpointed, because
    # materializing the normalized corpus costs a full write+read of the
    # text bytes while recomputing three regexps is scan-bound CPU.
    if quality_filter or lm_ref is not None:
        normed = docs.select("doc_id", normalize_col("text").alias("norm"))

    if quality_filter:
        if quality_weights is not None:
            low = trained_quality_scores(normed, quality_weights).select(
                "doc_id", (F.col("score") > 0).alias("_flag")
            )
        else:
            low = hashed_quality_scores(normed, "norm", "doc_id").select(
                "doc_id", (F.col("score_mi") < 0).alias("_flag")
            )
        screens = _fold(screens, low, "low_quality")

    if lm_ref is not None:
        model = fit_trigram_lm(
            lm_ref.select(
                normalize_col(F.coalesce(F.col("text"), F.lit(""))).alias("norm")
            )
        )
        scored = doc_surprise(normed, model).select("doc_id", "surprise_x16")
        if lm_max_x16 is not None:
            cut = F.lit(lm_max_x16)
        else:
            # Tail tercile, cut derived exactly like q_lm_terciles:
            # histogram over the bounded score domain (<= 369 distinct
            # values at any corpus size, so the cumulative window is over
            # a tiny frame); cut2 = smallest score whose cumulative count
            # reaches 2/3 — scores strictly above it are tail. Derived from
            # THIS RUN's scored slice (the resume-scope note).
            hist = (
                scored.filter(F.col("surprise_x16").isNotNull())
                .groupBy("surprise_x16")
                .agg(F.count(F.lit(1)).cast("long").alias("_c"))
            )
            wcum = Window.orderBy("surprise_x16").rowsBetween(
                Window.unboundedPreceding, 0
            )
            wall = Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            cut2 = (
                hist.select(
                    "surprise_x16",
                    F.sum("_c").over(wcum).alias("_cum"),
                    F.sum("_c").over(wall).alias("_n"),
                )
                .filter(F.col("_cum") * 3 >= 2 * F.col("_n"))
                .agg(F.min("surprise_x16").alias("_cut2"))
            )
            scored = scored.crossJoin(F.broadcast(cut2))
            cut = F.col("_cut2")
        screens = _fold(
            screens,
            scored.select(
                "doc_id",
                "surprise_x16",
                # NULL surprise (< 3 tokens) keeps: too short to judge.
                (F.col("surprise_x16") > cut).alias("_flag"),
            ),
            "high_surprise",
        )

    # NULL text would make every expression below NULL: the [null] line
    # key is dropped by dedup_lines' frequency equi-join, the doc
    # vanishes from `lined`, and an inner screens<->lined join would
    # silently drop its verdict row. Coalesce first; belt-and-braces, the
    # join below is ALSO a left join with defaults. Real web text carries
    # newlines; the synthetic corpus is single-line, so fall back to
    # fixed-width word lines there. Split on \r?\n, not \n: CRLF docs
    # would otherwise carry a trailing \r per line, splitting every
    # banner's frequency count across the two line-ending variants.
    text_nn = F.coalesce(F.col("text"), F.lit(""))
    lines_arr = F.when(
        F.instr(text_nn, "\n") > 0, F.split(text_nn, r"\r?\n")
    ).otherwise(word_lines(F.split(normalize_col(text_nn), " ")))
    # Empty lines (blank separators, the single '' line an empty/NULL doc
    # synthesizes) carry no content: they would only pollute the
    # frequency table (and give empty docs a phantom kept line).
    lines = docs.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    ).filter(F.col("line") != "")
    lined = dedup_lines(lines, min_count=min_line_count).select(
        "doc_id", F.col("n_kept").alias("n_kept_lines"), "kept_text"
    )
    j = screens.join(lined, "doc_id", "left").withColumns(
        {
            "n_kept_lines": F.coalesce(F.col("n_kept_lines"), F.lit(0)),
            "kept_text": F.coalesce(F.col("kept_text"), F.lit("")),
        }
    )

    if bench_docs is not None:
        grams = F.array_distinct(word_ngrams(F.split(normalize_col("text"), " "), 8))
        bench = F.broadcast(
            bench_docs.select(F.explode(grams).alias("gram")).distinct()
        )
        hits = (
            docs.select("doc_id", F.explode(grams).alias("gram"))
            .join(bench, "gram")
            .select("doc_id")
            .distinct()
        )
        j = _mark(j, hits, "contaminated")
    else:
        j = j.withColumn("contaminated", F.lit(False))

    # Each dup stage ranks ONLY the docs that survive every earlier stage
    # (`alive`): a screened-out doc must never claim the canonical slot,
    # or its kept twin would be dropped as 'dup' and the content
    # permanently lost from the committed kept set. Ranking the eligible
    # subset also keeps the all-boilerplate kept_text='' mass out of the
    # window — at scale that constant key would otherwise funnel millions
    # of rows into one straggler task. `marks` lists the dup-stage flags in
    # verdict order.
    alive = (
        F.col("drop_reason").isNull()
        & (F.col("n_kept_lines") > 0)
        & ~F.col("contaminated")
    )
    marks = [("contaminated", "contaminated")]
    j = j.withColumn("content_sha", F.sha2(F.col("kept_text"), 256))

    # Webgraph prior: per-host authority from the pagerank_by_host rollup
    # (host, host_rank_mi) — broadcast, recorded on every row (0 for
    # hosts absent from the graph), and the exact-dup canonical
    # TIEBREAKER: among byte-identical twins the highest-authority host
    # keeps the slot, doc_id breaking residual ties (the oracle-gated
    # `graph_prior` query). Near-dup canonical stays min-doc_id.
    rank_order = [F.col("doc_id")]
    if graph_prior is not None:
        j = j.join(
            F.broadcast(graph_prior.select("host", "host_rank_mi")), "host", "left"
        ).withColumn(
            "host_rank_mi", F.coalesce(F.col("host_rank_mi"), F.lit(0)).cast("long")
        )
        rank_order = [F.col("_hr").desc(), F.col("doc_id")]
    eligible = j.filter(alive).select(
        "doc_id",
        F.col("content_sha").alias("_kh"),
        *([F.col("host_rank_mi").alias("_hr")] if graph_prior is not None else []),
    )
    if prior_kept_hashes is not None:
        # Cross-run exact dedup: a hash already committed KEPT owns its
        # canonical slot forever — new twins drop as dup and are also
        # excluded from this run's canonical window. The Bloom sidecar
        # screens the new side with broadcast joins only, so the exact
        # semi-join's shuffle carries the ~(dup-rate + FP-rate) slice.
        probe_src = eligible
        if prior_bloom is not None and bloom_bits:
            probe_src = bloom_probe(
                eligible, "_kh", prior_bloom, bloom_bits
            ).filter(F.col("maybe_seen"))
        prior = prior_kept_hashes.select(F.col("content_sha").alias("_kh")).distinct()
        prior_dups = probe_src.join(prior, "_kh", "semi").select("doc_id")
        eligible = eligible.join(prior_dups, "doc_id", "left_anti")
    dups = (
        eligible.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("_kh").orderBy(*rank_order))
        )
        .filter(F.col("_rn") > 1)
        .select("doc_id")
    )
    if prior_kept_hashes is not None:
        dups = dups.unionByName(prior_dups)  # disjoint: anti-joined above
    j = _mark(j, dups, "_dup")
    alive = alive & ~F.col("_dup")
    marks.append(("_dup", "dup"))

    if near_dup:
        # LSH candidates -> exact-Jaccard verify -> connected components
        # -> only the min-doc_id member of each cluster keeps its slot.
        # Runs over kept_text so boilerplate stripping cannot hide
        # near-dups behind differing chrome.
        survivors = j.filter(alive).select("doc_id", "kept_text")
        # the banding kernel's Arrow schema types the id as string; cast
        # through it and back so labels stay NUMERIC (canonical member =
        # min doc_id, not min string). Bands are computed ONCE and reused
        # three ways: within-run pairs, the cross-run join against
        # committed signatures, and persistence into the verdict row.
        banded = (
            with_minhash_bands(
                survivors.withColumn("doc_id", F.col("doc_id").cast("string")),
                "kept_text",
                "doc_id",
            )
            .select(F.col("doc_id").cast("long").alias("doc_id"), "bands")
            .localCheckpoint(eager=False)
        )
        toks = survivors.select(
            "doc_id",
            F.array_distinct(F.split(F.col("kept_text"), " ")).alias("toks"),
        )
        pairs = (
            pairs_from_banded(banded, "doc_id")
            .join(toks.toDF("id_a", "toks_a"), "id_a")
            .join(toks.toDF("id_b", "toks_b"), "id_b")
            .filter(
                _jaccard_at_least(
                    F.col("toks_a"), F.col("toks_b"), near_dup_threshold
                )
            )
            .select("id_a", "id_b")
        )
        cc = connected_components(pairs, src="id_a", dst="id_b")
        near = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        if prior_kept_neardup is not None:
            # Cross-run near-dup: committed kept signatures band-join the
            # new docs; exact Jaccard verifies against the committed
            # cleaned text. The committed doc keeps its slot.
            prior = prior_kept_neardup.filter(
                F.col("minhash_bands").isNotNull()
            ).select(
                F.col("doc_id").alias("_p_id"),
                F.array_distinct(F.split(F.col("kept_text"), " ")).alias("_p_toks"),
                F.col("minhash_bands").alias("_p_bands"),
            )
            keys = ["band_idx", "band_hash"]
            pex = prior.select(
                "_p_id", F.posexplode("_p_bands").alias(*keys)
            )
            nex = banded.select("doc_id", F.posexplode("bands").alias(*keys))
            ok = _capped_keys(nex, pex, keys, MAX_BAND_BUCKET)
            cross = (
                nex.join(ok, keys, "semi")
                .join(pex.join(ok, keys, "semi"), keys)
                .select("doc_id", "_p_id")
                .distinct()
            )
            cross_hit = (
                cross.join(toks, "doc_id")
                .join(prior.select("_p_id", "_p_toks"), "_p_id")
                .filter(
                    _jaccard_at_least(
                        F.col("toks"), F.col("_p_toks"), near_dup_threshold
                    )
                )
                .select("doc_id")
            )
            near = near.unionByName(cross_hit).distinct()
        j = _mark(j, near, "_near").join(
            banded.withColumnRenamed("bands", "minhash_bands"), "doc_id", "left"
        )
        alive = alive & ~F.col("_near")
        marks.append(("_near", "near_dup"))
    else:
        j = j.withColumn("minhash_bands", F.lit(None).cast("array<bigint>"))

    if embeddings is not None:
        # SemDedup: embedding-level duplicates whose TEXT differs
        # (templated rewrites, boilerplate-divergent mirrors) — the layer
        # MinHash cannot see. Runs LAST among the dup stages, so a
        # textual-dup canon never loses its slot to a semantic twin.
        # Pin the upstream DAG (screens + the LSH stage) ONCE: the
        # centroid fit's collect is a separate action and semdedup_marks
        # reads the vectors from three plan branches — unpinned, the
        # whole curation DAG would execute 2-4x.
        j = j.localCheckpoint(eager=False)
        vecs = j.filter(alive).select("doc_id").join(
            # one row per doc_id, deterministically (min array): a
            # doubly-delivered embedding row must not fan the doc's
            # verdict out into duplicate rows
            embeddings.filter(F.col("embedding").isNotNull())
            .groupBy("doc_id")
            .agg(F.min("embedding").alias("embedding")),
            "doc_id",
        )
        # sem_emb persists in the INPUT's element type: float32 stays
        # float32 (half the state bytes), and every cosine casts to double
        # at use, which is exact for float32. Once a table HAS committed
        # sem_emb rows, its type wins: parquet mergeSchema cannot
        # reconcile float and double pages under one column.
        emb_t = sem_emb_type or embeddings.schema["embedding"].dataType
        try:
            # without pinned centroids the fit is slice-local; its bounded
            # sample collect doubles as the emptiness probe
            cents = (
                sem_centroids
                if sem_centroids is not None
                else kmeans_centroids(vecs, n_cells=sem_cells, id_col="doc_id")
            )
        except ValueError:  # no surviving doc has an embedding row
            j = j.withColumns(
                {
                    "sem_cell": F.lit(None).cast("long"),
                    "sem_emb": F.lit(None).cast(emb_t),
                }
            )
        else:
            # sem0 feeds three branches (within-run marks, the cross-run
            # probe, verdict persistence): pin it once. cell is an int
            # literal inside semdedup_marks; cast long so the vector-less
            # branch's NULL matches.
            sem0 = (
                semdedup_marks(vecs, cents, sem_threshold, id_col="doc_id")
                .withColumn("cell", F.col("cell").cast("long"))
                .localCheckpoint(eager=False)
            )
            sem = sem0.filter(F.col("is_sem_dup")).select("doc_id")
            if prior_sem is not None:
                # Cross-run SemDedup: only within-run SURVIVORS probe (a
                # marked doc drops anyway, and would inflate occupancy).
                # Norms are materialized once per ROW (_prep_vec) —
                # inside the pair condition they would recompute per pair.
                new_side = _prep_vec(
                    sem0.filter(~F.col("is_sem_dup"))
                    .select("doc_id", "cell")
                    .join(vecs, "doc_id"),
                    "embedding",
                    "_x",
                ).select("doc_id", "cell", "_xvec", "_xnorm")
                pri = _prep_vec(
                    prior_sem.select(
                        F.col("sem_cell").alias("cell"),
                        F.col("sem_emb").alias("_p_emb"),
                    ),
                    "_p_emb",
                    "_p",
                ).select("cell", "_pvec", "_pnorm")
                ok = _capped_keys(new_side, pri, ["cell"], MAX_CELL)
                cross_hit = (
                    new_side.join(ok, "cell", "semi")
                    .join(pri.join(ok, "cell", "semi"), "cell")
                    .filter(
                        # same arithmetic AND 4-decimal rounding as
                        # semdedup_marks, so a pair at the threshold gets
                        # the same verdict within-run and cross-run
                        F.round(
                            cosine_from_norms(
                                F.col("_xvec"),
                                F.col("_pvec"),
                                F.col("_xnorm"),
                                F.col("_pnorm"),
                            ),
                            4,
                        )
                        >= sem_threshold
                    )
                    .select("doc_id")
                )
                sem = sem.unionByName(cross_hit).distinct()
            # persist the semantic-dedup state on the verdict row (the
            # minhash_bands pattern): cell + embedding of every doc that
            # carried a vector this run
            state = sem0.select("doc_id", F.col("cell").alias("sem_cell")).join(
                vecs.select(
                    "doc_id", F.col("embedding").cast(emb_t).alias("sem_emb")
                ),
                "doc_id",
            )
            j = _mark(j, sem, "_sem").join(state, "doc_id", "left")
            marks.append(("_sem", "sem_dup"))

    stage_reason = F.when(F.col("n_kept_lines") == 0, F.lit("boilerplate"))
    for col, why in marks:
        stage_reason = stage_reason.when(F.col(col), F.lit(why))
    reason = F.coalesce(F.col("drop_reason"), stage_reason)
    kept = reason.isNull()
    # The verdict table doubles as the CURATED CORPUS: kept docs carry
    # their cleaned text (dropped docs carry NULL — at 100 TB the
    # drop-fraction's bytes are the dominant storage cost and their text
    # is reproducible from input + reason), plus the source tag the packer
    # stratifies on. job_pack --from-verdicts consumes this directly.
    # Dup-state columns are kept docs only: a dropped doc never owns a slot.
    out = j.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "host",
        "source",
        "pred_lang",
        "n_tokens",
        "n_pii",
        "n_kept_lines",
        "contaminated",
        "content_sha",
        kept.alias("kept"),
        reason.alias("drop_reason"),
        F.when(kept, F.col("kept_text")).alias("kept_text"),
        F.when(kept, F.col("minhash_bands")).alias("minhash_bands"),
        *(["host_rank_mi"] if graph_prior is not None else []),
        *(["surprise_x16"] if lm_ref is not None else []),
        *(
            [
                F.when(kept, F.col("sem_cell")).alias("sem_cell"),
                F.when(kept, F.col("sem_emb")).alias("sem_emb"),
            ]
            if embeddings is not None
            else []
        ),
    )

    # Both post-verdict stages work on kept docs' text reflowed to spaces:
    # kept_text wraps lines at per-doc offsets, so the same quoted
    # paragraph would tokenize differently across docs (no excision
    # window would match), and "november\noscar" must price as two BPE
    # words. Each pins `out` first: it feeds the stage AND the final join,
    # and unpinned the whole curation DAG (LSH stage included) runs twice.
    def reflowed_kept(frame):
        return frame.filter("kept").select(
            "doc_id", F.translate(F.col("kept_text"), "\n", " ").alias("kept_text")
        )

    if excise_spans:
        # Span surgery on the CURATED text: repeated 15-token windows are
        # cut from every non-canonical kept doc (min-id owner keeps) —
        # boilerplate line dedup cannot see because it straddles line
        # boundaries. AFTER the verdicts (surgery never changes who is
        # kept) and BEFORE the BPE count (counts price the shipped text).
        # Within-run scope, like the near-dup components.
        out = out.localCheckpoint(eager=False)
        surg = excise_repeated_spans(
            reflowed_kept(out), "kept_text", "doc_id", w=15
        ).select(
            "doc_id",
            F.col("deduped_text").alias("_sx_text"),
            F.col("n_removed").alias("n_excised_tokens"),
        )
        out = (
            out.join(surg, "doc_id", "left")
            .withColumns(
                {
                    "kept_text": F.when(
                        F.col("kept"),
                        F.coalesce(F.col("_sx_text"), F.col("kept_text")),
                    ),
                    "n_excised_tokens": F.when(
                        F.col("kept"),
                        F.coalesce(F.col("n_excised_tokens"), F.lit(0)),
                    ),
                }
            )
            .drop("_sx_text")
        )
    if bpe_merges is not None:
        # Tokenizer-faithful counts: one extra Arrow pass over kept docs
        # only; dropped docs carry NULL. job_pack --from-verdicts
        # --n-tokens-col n_bpe_tokens packs by exactly these counts.
        out = out.localCheckpoint(eager=False)
        counts = bpe_token_counts(reflowed_kept(out), bpe_merges, "kept_text", "doc_id")
        out = out.join(counts, "doc_id", "left")
    return out
