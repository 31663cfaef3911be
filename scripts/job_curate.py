"""Web-corpus curation batch job (spark-submit entrypoint).

docs parquet (doc_id, url, text, lang, source) -> per-document screens
(language ID, token count, PII, domain blocklist — functions/curation.py
curate_docs) -> inter-document line dedup (CCNet boilerplate removal
over the docs' real newlines; single-line docs fall back to fixed-width
word lines) -> exact dedup on the CLEANED text ->
optional benchmark decontamination (--bench parquet with a ``text``
column) -> per-doc verdict rows snapshot-committed, resumable on doc_id
(a crash or a re-run with new docs processes only never-committed ids).

    spark-submit --py-files ocr_parallel_spark.zip scripts/job_curate.py \
        --input /data/docs --output /data/verdicts \
        [--input-format warc]  # raw .warc/.warc.gz archives instead of parquet
        [--blocklist hosts.txt] [--bench /data/eval_docs]
"""

from __future__ import annotations

import argparse
import json


def build_output(
    spark,
    docs,
    blocked_hosts=None,
    bench_docs=None,
    min_line_count: int = 5,
    line_tokens: int = 8,
    robots_df=None,
    near_dup: bool = False,
    near_dup_threshold: float = 0.5,
    quality_filter: bool = False,
    quality_weights=None,
    lm_ref=None,
    lm_max_x16: int = 288,
    lm_tail_drop: bool = False,
    graph_prior=None,
    bpe_merges=None,
    prior_kept_hashes=None,
    prior_kept_neardup=None,
    prior_bloom=None,
    bloom_bits: int = 0,
    bloom_hashes: int = 4,
    embeddings=None,
    sem_threshold: float = 0.9,
    sem_cells: int = 64,
    sem_centroids=None,
    prior_sem=None,
    sem_emb_type=None,
    excise_spans: bool = False,
):
    """The batch curation composition; returns one verdict row per doc.

    ``quality_filter=True`` adds the classifier screen, folded in
    before the content stages like robots so a low-quality doc can
    never claim a dup-canonical slot. With ``quality_weights`` (a
    ``(_bucket, _wt)`` DataFrame, e.g. fit by
    functions/curation.py train_quality_weights and persisted to
    parquet) the screen is the TRAINED ternary-vote classifier —
    measured precision/recall 1.0 on the held-out planted-taint
    benchmark the oracle-gated ``quality_trained`` query pins; docs
    with a positive vote sum drop as ``low_quality``. Without weights
    it falls back to the stand-in hashed-linear scorer (the
    ``quality_classifier`` gate's plumbing pin; negative milli-score
    drops) — plumbing-only, keep/drop carries no trained signal.

    ``lm_ref`` (DataFrame of trusted reference docs with a ``text``
    column) adds the CCNet-style LM screen (functions/lm.py): a pruned
    trigram model is fit on the reference each run (deterministic given
    the same reference — incremental runs stay consistent) and docs
    whose average surprise exceeds ``lm_max_x16`` sixteenths-of-a-bit
    drop as ``high_surprise``; the per-doc score rides the verdict
    table as ``surprise_x16``. Docs too short to score (< 3 tokens,
    NULL average) are KEPT — brevity is not evidence of gibberish.
    The threshold is corpus-dependent (longer docs dilute a fixed
    taint; the lm_separation gate pins the RATIO, not the absolute):
    CCNet practice derives the cut from the reference's own score
    distribution — see the ``lm_terciles`` catalog query — and the
    default 288 (= 18 bits/gram) is just a conservative starting point.

    ``blocked_hosts``: DataFrame with a ``host`` column (empty screen if
    None). ``bench_docs``: DataFrame with a ``text`` column whose word
    8-grams define the decontamination set (stage skipped if None).
    ``near_dup=True`` adds the fuzzy-dedup stage after exact dedup:
    MinHash-LSH candidates over the cleaned text -> exact-Jaccard
    verify >= ``near_dup_threshold`` -> connected components -> every
    non-canonical cluster member (canonical = min doc_id) dropped as
    ``near_dup`` — the composition the ``minhash_clusters`` catalog
    gate pins, wired into the production job. A real 100 TB curation
    run leads with this stage; it is opt-in here because the LSH
    banding pass is the job's most expensive stage.

    INVARIANT: every input doc_id yields exactly one verdict row — a
    NULL-text doc flows through as ``boilerplate`` (text is coalesced
    to '' and the lines join is a left join), never silently lost and
    re-selected as TODO forever (ADVICE round 3).

    ``prior_kept_hashes`` (one ``content_sha`` column — main() feeds
    the committed KEPT docs' hashes here on incremental runs): a new
    doc whose cleaned text matches an already-committed kept doc drops
    as ``dup`` immediately, so exact dedup is CORRECT across runs, not
    just within a run slice. Only kept hashes qualify — a doc whose
    committed twin was screened out must still get its own canonical
    slot (the round-2 canonical-slot rule, extended across runs).

    ``prior_kept_neardup`` (``doc_id``, ``kept_text``,
    ``minhash_bands`` of committed KEPT docs — main() feeds it on
    incremental ``--near-dup`` runs): new docs band-join against the
    COMMITTED signatures and verify exact Jaccard against the committed
    cleaned text, so a near-dup pair split across runs drops too — the
    committed doc keeps its slot, arrival order canonical, mirroring
    the cross-run exact rule. Kept docs' band signatures persist in the
    verdicts table to make this one band-explode join, not a re-hash of
    the committed corpus.

    ``prior_sem`` (``doc_id``, ``sem_cell``, ``sem_emb`` of committed
    KEPT docs — main() feeds it on incremental ``--embeddings`` runs
    when ``--sem-centroids`` pins the geometry): new surviving vectors
    probe the committed embeddings cell-by-cell and a new doc at
    cosine >= ``sem_threshold`` of a committed kept doc drops as
    ``sem_dup`` — the committed doc keeps its slot, completing the
    cross-run story for the third dup layer (exact, near, semantic).
    Only sound under a PINNED geometry: the committed ``sem_cell``
    values were assigned under specific centroids, and a slice-local
    refit would put the same vector in a different cell (missed pairs,
    never false drops — every drop is exact-cosine-verified). main()
    proves the pin rather than assuming it: runs with
    ``--sem-centroids`` record a digest of the centroid values in the
    snapshot lineage (``sem_geo``), the prior is fed only on a digest
    MATCH, and a mismatch refuses outright. Kept docs persist
    (``sem_cell``, ``sem_emb``) in the verdicts table, mirroring
    ``minhash_bands``; ``sem_emb_type`` (fed from the committed
    column) pins the persisted array element type across runs.

    Resume scope note: under run_resumable the remaining corpus-global
    signals (line frequencies, the within-run near-dup components) see
    only the never-committed TODO slice of each run — a line must repeat within
    a run to be dropped, a near-dup pair split across runs is missed.
    That is the standard incremental-curation tension; the arbiter is
    ``--recompute``: re-run THIS composition over the full input and
    overwrite the committed verdicts (main below). The per-document
    screens (curate_docs) need no global view, so they are exact under
    resume."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocr_parallel_spark.functions.curation import (
        curate_docs,
        word_lines,
        word_ngrams,
    )
    from ocr_parallel_spark.operators.classify import normalize_col
    from ocr_parallel_spark.operators.linededup import dedup_lines

    if blocked_hosts is None:
        blocked_hosts = spark.createDataFrame([], "host string")
    # build_output scans `docs` several times (screens, lines x2 via
    # dedup_lines' documented double read, grams); under run_resumable
    # that lineage is source-scan + committed-table anti-join, so pin it
    # once — checkpoint blocks are freed by the ContextCleaner when the
    # result is dropped (the dedup_lines docstring's own advice).
    docs = docs.localCheckpoint(eager=False)
    screens = curate_docs(docs, blocked_hosts)

    if robots_df is not None:
        # Retroactive robots screen (functions/robots.py): folded into
        # drop_reason BEFORE the content stages so a disallowed doc can
        # never claim a dup-canonical slot. ``robots_df``: (host,
        # robots_txt). A url with no path component matches as '/'.
        from ocr_parallel_spark.functions.robots import apply_robots, parse_robots
        from ocr_parallel_spark.functions.urls import host_col

        path = F.regexp_extract(
            F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/\S*)?", 1
        )
        urls = docs.select(
            "doc_id",
            host_col(F.col("url")).alias("host"),
            F.when(path == "", F.lit("/")).otherwise(path).alias("path"),
        )
        verdict = apply_robots(urls, parse_robots(robots_df)).select(
            "doc_id", "disallowed"
        )
        screens = (
            screens.join(verdict, "doc_id", "left")
            .withColumn(
                "drop_reason",
                F.coalesce(
                    F.col("drop_reason"),
                    F.when(
                        F.coalesce(F.col("disallowed"), F.lit(False)),
                        F.lit("robots"),
                    ),
                ),
            )
            .withColumn("kept", F.col("drop_reason").isNull())
            .drop("disallowed")
        )

    # Real web text carries newlines; the synthetic corpus is
    # single-line, so fall back to fixed-width word lines there — the
    # downstream frequency algebra is line-source agnostic. Split on
    # \r?\n, not \n: CRLF docs would otherwise carry a trailing \r per
    # line, splitting every banner's frequency count across the two
    # line-ending variants (and splitting dup hashes the same way).
    # One shared normalized frame for both model screens. NOTE this is
    # frame-level sharing only: each screen joins it in its own subtree,
    # so the regexp normalize is evaluated per branch over the
    # checkpointed docs scan — deliberately NOT re-checkpointed, because
    # materializing the normalized corpus costs a full write+read of the
    # text bytes while recomputing three regexps is scan-bound CPU.
    if quality_filter or lm_ref is not None:
        normed = docs.select("doc_id", normalize_col("text").alias("norm"))

    if quality_filter:
        from ocr_parallel_spark.functions.curation import (
            hashed_quality_scores,
            trained_quality_scores,
        )

        if quality_weights is not None:
            qs = trained_quality_scores(normed, quality_weights).select(
                "doc_id", (F.col("score") > 0).alias("_lowq")
            )
        else:
            qs = hashed_quality_scores(normed, "norm", "doc_id").select(
                "doc_id", (F.col("score_mi") < 0).alias("_lowq")
            )
        screens = (
            screens.join(qs, "doc_id", "left")
            .withColumn(
                "drop_reason",
                F.coalesce(
                    F.col("drop_reason"),
                    F.when(
                        F.coalesce(F.col("_lowq"), F.lit(False)),
                        F.lit("low_quality"),
                    ),
                ),
            )
            .withColumn("kept", F.col("drop_reason").isNull())
            .drop("_lowq")
        )

    if lm_ref is not None:
        from ocr_parallel_spark.functions.lm import (
            doc_surprise,
            fit_trigram_lm,
        )

        model = fit_trigram_lm(
            lm_ref.select(
                normalize_col(F.coalesce(F.col("text"), F.lit(""))).alias(
                    "norm"
                )
            )
        )
        scored = doc_surprise(normed, model).select("doc_id", "surprise_x16")
        if lm_tail_drop:
            # CCNet's actual cut (--lm-drop-tail): no magic constant —
            # NOTE the cut derives from THIS RUN's scored slice: under
            # run_resumable that is the TODO delta, so the screen is
            # slice-local exactly like line frequencies and near-dup
            # components (the docstring's resume-scope note); the
            # --recompute arbiter re-derives the corpus-global cut.
            # drop the TAIL TERCILE of the scored distribution, cutoff
            # derived exactly like q_lm_terciles (histogram over the
            # bounded score domain, <= 369 distinct values at any
            # corpus size, so the cumulative window is over a tiny
            # frame; cut2 = smallest score whose cumulative count
            # reaches 2/3 — scores strictly above it are tail).
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
            cut = (
                hist.select(
                    "surprise_x16",
                    F.sum("_c").over(wcum).alias("_cum"),
                    F.sum("_c").over(wall).alias("_n"),
                )
                .filter(F.col("_cum") * 3 >= 2 * F.col("_n"))
                .agg(F.min("surprise_x16").alias("_cut2"))
            )
            ls = scored.crossJoin(F.broadcast(cut)).select(
                "doc_id",
                "surprise_x16",
                # NULL surprise (< 3 tokens) keeps: too short to judge.
                (F.col("surprise_x16") > F.col("_cut2")).alias("_highs"),
            )
        else:
            ls = scored.select(
                "doc_id",
                "surprise_x16",
                # NULL surprise (< 3 tokens) keeps: too short to judge.
                (F.col("surprise_x16") > lm_max_x16).alias("_highs"),
            )
        screens = (
            screens.join(ls, "doc_id", "left")
            .withColumn(
                "drop_reason",
                F.coalesce(
                    F.col("drop_reason"),
                    F.when(
                        F.coalesce(F.col("_highs"), F.lit(False)),
                        F.lit("high_surprise"),
                    ),
                ),
            )
            .withColumn("kept", F.col("drop_reason").isNull())
            .drop("_highs")
        )

    # NULL text would make every expression below NULL: the [null] line
    # key is dropped by dedup_lines' frequency equi-join, the doc
    # vanishes from `lined`, and an inner screens<->lined join would
    # silently drop its verdict row — the doc then re-selected as TODO
    # on every resume run. Coalesce first; belt-and-braces, the join
    # below is ALSO a left join with defaults.
    text_nn = F.coalesce(F.col("text"), F.lit(""))
    norm = normalize_col(text_nn)
    has_nl = F.instr(text_nn, "\n") > 0
    lines_arr = F.when(has_nl, F.split(text_nn, r"\r?\n")).otherwise(
        word_lines(F.split(norm, " "), line_tokens)
    )
    # Empty lines (blank separators in real web text, the single ''
    # line an empty/NULL doc synthesizes) carry no content: they would
    # only pollute the frequency table (and give empty docs a phantom
    # kept line), so they are dropped before counting.
    lines = docs.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    ).filter(F.col("line") != "")
    lined = dedup_lines(lines, min_count=min_line_count).select(
        "doc_id", F.col("n_kept").alias("n_kept_lines"), "kept_text"
    )

    j = (
        screens.join(lined, "doc_id", "left")
        .withColumn(
            "n_kept_lines", F.coalesce(F.col("n_kept_lines"), F.lit(0))
        )
        .withColumn("kept_text", F.coalesce(F.col("kept_text"), F.lit("")))
    )

    if bench_docs is not None:
        grams = word_ngrams(F.split(normalize_col("text"), " "), 8)
        bench = F.broadcast(
            bench_docs.select(F.explode(F.array_distinct(grams)).alias("gram"))
            .distinct()
        )
        doc_grams = docs.select(
            "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
        )
        hits = (
            doc_grams.join(bench, "gram").select("doc_id").distinct()
            .withColumn("_cont", F.lit(True))
        )
        j = j.join(hits, "doc_id", "left").withColumn(
            "contaminated", F.coalesce(F.col("_cont"), F.lit(False))
        )
    else:
        j = j.withColumn("contaminated", F.lit(False))

    # Exact-dup ranking runs ONLY over docs that survive every earlier
    # stage (screens, boilerplate, contamination — hence computed after
    # the bench join): a screened-out doc must never claim the canonical
    # slot, or its kept twin would be dropped as 'dup' and the content
    # permanently lost from the committed kept set. Ranking the eligible
    # subset also keeps the all-boilerplate kept_text='' mass out of the
    # window — at scale that constant key would otherwise funnel
    # millions of rows into one straggler task.
    j = j.withColumn("content_sha", F.sha2(F.col("kept_text"), 256))

    # Webgraph prior (--graph-prior, VERDICT r4 #7): per-host authority
    # from the pagerank_by_host rollup (host, host_rank_mi) — broadcast
    # (hosts are tiny vs docs), recorded as a verdict column on every
    # row (0 for hosts absent from the graph), and used below as the
    # exact-dup canonical TIEBREAKER: among byte-identical twins the
    # highest-authority host keeps the slot, doc_id breaking residual
    # ties — the composition the oracle-gated `graph_prior` catalog
    # query pins. Near-dup canonical stays min-doc_id (cluster members
    # are only similar, not identical; stable ids beat rank there).
    if graph_prior is not None:
        j = j.join(
            F.broadcast(graph_prior.select("host", "host_rank_mi")),
            "host",
            "left",
        ).withColumn(
            "host_rank_mi", F.coalesce(F.col("host_rank_mi"), F.lit(0)).cast("long")
        )
    eligible = j.filter(
        F.col("drop_reason").isNull()
        & (F.col("n_kept_lines") > 0)
        & ~F.col("contaminated")
    ).select(
        "doc_id",
        F.col("content_sha").alias("_kh"),
        *(
            [F.col("host_rank_mi").alias("_hr")]
            if graph_prior is not None
            else []
        ),
    )
    if prior_kept_hashes is not None:
        # Cross-run exact dedup: a hash already committed KEPT owns its
        # canonical slot forever — new twins drop as dup and are also
        # excluded from this run's canonical window.
        probe_src = eligible
        if prior_bloom is not None and bloom_bits:
            # Bloom prefilter (functions/bloom.py): the persisted word
            # table over committed kept hashes screens the NEW side with
            # broadcast joins only — docs whose hash is definitely not
            # committed (no false negatives, shared position derivation)
            # skip the exact semi-join entirely, so the shuffle below
            # carries the ~(dup-rate + FP-rate) slice instead of the
            # whole run. Verdicts are IDENTICAL with or without the
            # sidecar (pytest pins it): a false positive only costs a
            # redundant exact probe.
            from ocr_parallel_spark.functions.bloom import bloom_probe

            probe_src = bloom_probe(
                eligible, "_kh", prior_bloom, bloom_bits, bloom_hashes
            ).filter(F.col("maybe_seen")).drop("maybe_seen")
        prior = prior_kept_hashes.select(
            F.col("content_sha").alias("_kh")
        ).distinct()
        prior_dups = probe_src.join(prior, "_kh", "semi").select(
            "doc_id", F.lit(True).alias("_pd")
        )
        eligible = eligible.join(prior_dups, "doc_id", "left_anti")
    w = Window.partitionBy("_kh").orderBy(
        *(
            [F.col("_hr").desc(), F.col("doc_id")]
            if graph_prior is not None
            else [F.col("doc_id")]
        )
    )
    dups = (
        eligible.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("doc_id", F.lit(True).alias("_dup"))
    )
    j = j.join(dups, "doc_id", "left").withColumn(
        "_dup", F.coalesce(F.col("_dup"), F.lit(False))
    )
    if prior_kept_hashes is not None:
        j = j.join(prior_dups, "doc_id", "left").withColumn(
            "_dup", F.col("_dup") | F.coalesce(F.col("_pd"), F.lit(False))
        ).drop("_pd")

    if near_dup:
        # Fuzzy near-dup consolidation over the exact-dedup survivors
        # (the minhash_clusters catalog composition, production-wired):
        # LSH candidates -> exact-Jaccard verify -> connected
        # components -> only the min-doc_id member of each cluster
        # keeps its slot. Exact verification touches candidates only;
        # the component labeling is O(log diameter) rounds. Runs over
        # kept_text so boilerplate stripping cannot hide near-dups
        # behind differing chrome.
        from ocr_parallel_spark.operators.graph import connected_components
        from ocr_parallel_spark.operators.neardup import (
            pairs_from_banded,
            with_minhash_bands,
        )

        survivors = j.filter(
            F.col("drop_reason").isNull()
            & (F.col("n_kept_lines") > 0)
            & ~F.col("contaminated")
            & ~F.col("_dup")
        ).select("doc_id", "kept_text")
        # the banding kernel's Arrow schema types the id as string;
        # cast through it and back so downstream labels stay NUMERIC
        # (canonical member = min doc_id, not min lexicographic string).
        # Bands are computed ONCE and reused three ways: within-run
        # candidate pairs, the cross-run join against committed
        # signatures, and persistence into the verdict row.
        banded = (
            with_minhash_bands(
                survivors.withColumn("doc_id", F.col("doc_id").cast("string")),
                "kept_text",
                "doc_id",
            )
            .select(F.col("doc_id").cast("long").alias("doc_id"), "bands")
            .localCheckpoint(eager=False)
        )
        cands = pairs_from_banded(banded, "doc_id")
        toks = survivors.select(
            "doc_id",
            F.array_distinct(F.split(F.col("kept_text"), " ")).alias("toks"),
        )
        pairs = (
            cands.join(
                toks.select(
                    F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a")
                ),
                "id_a",
            )
            .join(
                toks.select(
                    F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b")
                ),
                "id_b",
            )
            .withColumn(
                "_inter",
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double"),
            )
            .filter(
                F.col("_inter")
                / (F.size("toks_a") + F.size("toks_b") - F.col("_inter"))
                >= near_dup_threshold
            )
            .select("id_a", "id_b")
        )
        cc = connected_components(pairs, src="id_a", dst="id_b")
        near = (
            cc.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("doc_id"))
            .withColumn("_near", F.lit(True))
        )
        if prior_kept_neardup is not None:
            # Cross-run near-dup: committed kept signatures band-join
            # the new docs; exact Jaccard verifies against the
            # committed cleaned text. The committed doc keeps its
            # slot. The cap bounds the COMBINED (new + committed)
            # bucket occupancy at MAX_BAND_BUCKET — the same
            # total-occupancy guarantee the within-run path gives, so
            # one bucket joins at most (MAX/2)^2 candidate pairs
            # (ADVICE r4: independent per-side caps would still admit
            # MAX x MAX; a degenerate-boilerplate band accumulated
            # over many runs is a |new| x |committed| quadratic
            # straggler otherwise).
            from ocr_parallel_spark.operators.neardup import MAX_BAND_BUCKET

            prior = prior_kept_neardup.filter(
                F.col("minhash_bands").isNotNull()
            ).select(
                F.col("doc_id").alias("_p_id"),
                F.col("kept_text").alias("_p_text"),
                F.col("minhash_bands").alias("_p_bands"),
            )
            pex0 = prior.select(
                "_p_id",
                F.posexplode("_p_bands").alias("band_idx", "band_hash"),
            )
            nex0 = banded.select(
                "doc_id",
                F.posexplode("bands").alias("band_idx", "band_hash"),
            )
            sizes = (
                nex0.select("band_idx", "band_hash")
                .unionByName(pex0.select("band_idx", "band_hash"))
                .groupBy("band_idx", "band_hash")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") <= MAX_BAND_BUCKET)
                .select("band_idx", "band_hash")
            )
            pex = pex0.join(sizes, ["band_idx", "band_hash"], "semi")
            nex = nex0.join(sizes, ["band_idx", "band_hash"], "semi")
            cross = (
                nex.join(pex, ["band_idx", "band_hash"])
                .select("doc_id", "_p_id")
                .distinct()
            )
            ptoks = prior.select(
                "_p_id",
                F.array_distinct(F.split(F.col("_p_text"), " ")).alias("_p_toks"),
            )
            inter2 = F.size(F.array_intersect("toks", "_p_toks")).cast("double")
            cross_hit = (
                cross.join(toks, "doc_id")
                .join(ptoks, "_p_id")
                .withColumn("_i2", inter2)
                .filter(
                    F.col("_i2")
                    / (F.size("toks") + F.size("_p_toks") - F.col("_i2"))
                    >= near_dup_threshold
                )
                .select("doc_id")
                .distinct()
                .withColumn("_near", F.lit(True))
            )
            near = near.unionByName(cross_hit).distinct()
        j = j.join(near, "doc_id", "left").withColumn(
            "_near", F.coalesce(F.col("_near"), F.lit(False))
        )
        j = j.join(
            banded.withColumnRenamed("bands", "minhash_bands"), "doc_id", "left"
        )
    else:
        j = j.withColumn("_near", F.lit(False)).withColumn(
            "minhash_bands", F.lit(None).cast("array<bigint>")
        )

    if embeddings is not None:
        # SemDedup screen (--embeddings): embedding-level duplicate
        # removal for pages whose TEXT differs but whose content does
        # not (templated rewrites, boilerplate-divergent mirrors) —
        # the layer MinHash cannot see. Runs LAST among the dup stages
        # over docs that survived everything else, so a textual-dup
        # canon never loses its slot to a semantic twin. Cross-run
        # scope when prior_sem is fed (committed kept embeddings under
        # a pinned geometry); within-run / --recompute otherwise.
        from ocr_parallel_spark.functions.similarity import (
            MAX_CELL,
            _prep_vec,
            cosine_from_norms,
            kmeans_centroids,
            semdedup_marks,
        )

        # pin the full upstream DAG (screens + the expensive LSH
        # near-dup stage) ONCE: the centroid fit's driver collect is a
        # separate action and semdedup_marks references the vectors
        # from three plan branches — unpinned, the whole curation DAG
        # would execute 2-4x (the bpe stage's load-bearing-checkpoint
        # lesson below).
        j = j.localCheckpoint(eager=False)
        sem_surv = j.filter(
            F.col("drop_reason").isNull()
            & (F.col("n_kept_lines") > 0)
            & ~F.col("contaminated")
            & ~F.col("_dup")
            & ~F.col("_near")
        ).select("doc_id")
        vecs = sem_surv.join(
            # one row per doc_id, deterministically (min array): a
            # doubly-delivered embedding row must not fan the doc's
            # verdict out into duplicate rows
            embeddings.filter(F.col("embedding").isNotNull())
            .groupBy("doc_id")
            .agg(F.min("embedding").alias("embedding")),
            "doc_id",
        )
        # sem_emb persists in the INPUT's own element type: a float32
        # source stays float32 (half the state bytes of a double cast —
        # at 10^12 docs the persisted embeddings dominate the verdict
        # table's size), and every cosine casts to double at use, which
        # is exact for float32, so verdicts are identical either way.
        # Once a table HAS committed sem_emb rows, its type wins
        # (sem_emb_type, fed by main()): appending a different array
        # type would poison the table — parquet mergeSchema cannot
        # reconcile float and double pages under one column.
        emb_t = sem_emb_type or embeddings.schema["embedding"].dataType
        try:
            # PINNED centroids (e.g. job_index's persisted fit) keep
            # the cell geometry identical across incremental runs;
            # without them the fit is slice-local — the bounded sample
            # collect doubles as the emptiness probe (a separate
            # limit(1).count() guard would run the whole screens DAG
            # one extra time)
            cents = (
                sem_centroids
                if sem_centroids is not None
                else kmeans_centroids(vecs, n_cells=sem_cells, id_col="doc_id")
            )
        except ValueError:  # no surviving doc has an embedding row
            j = (
                j.withColumn("_sem", F.lit(False))
                .withColumn("sem_cell", F.lit(None).cast("long"))
                .withColumn("sem_emb", F.lit(None).cast(emb_t))
            )
        else:
            # sem0 feeds three branches (within-run marks, the
            # cross-run probe's cell map, and verdict persistence) —
            # pin it once, the `banded` rule
            sem0 = semdedup_marks(
                vecs, cents, sem_threshold, id_col="doc_id"
            ).localCheckpoint(eager=False)
            sem = (
                sem0.filter(F.col("is_sem_dup"))
                .select("doc_id")
                .withColumn("_sem", F.lit(True))
            )
            if prior_sem is not None:
                # Cross-run SemDedup: committed kept embeddings
                # (persisted as sem_emb under the SAME pinned
                # geometry) probe the new run's surviving vectors
                # cell-by-cell; a verified new twin drops, the
                # committed doc keeps its slot. Only within-run
                # SURVIVORS probe (a within-run-marked doc drops
                # anyway): they'd otherwise inflate the occupancy
                # count and waste pair-join work. The cap bounds the
                # COMBINED (new + committed) cell occupancy at
                # MAX_CELL — one hot cell joins at most (MAX_CELL/2)^2
                # pairs, the same total-occupancy rule the cross-run
                # band join applies (ADVICE r4); overflow cells pass
                # through unprobed, a bounded recall trade. Norms are
                # materialized once per ROW (_prep_vec) — inside the
                # pair condition they would recompute per pair.
                new_side = _prep_vec(
                    sem0.filter(~F.col("is_sem_dup"))
                    .select("doc_id", F.col("cell").cast("long").alias("cell"))
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
                occ = (
                    new_side.select("cell")
                    .unionByName(pri.select("cell"))
                    .groupBy("cell")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .filter(F.col("_n") <= MAX_CELL)
                    .select("cell")
                )
                cross_hit = (
                    new_side.join(occ, "cell", "semi")
                    .join(pri.join(occ, "cell", "semi"), "cell")
                    .filter(
                        # same arithmetic AND 4-decimal rounding as
                        # semdedup_marks, so a pair at the threshold
                        # boundary gets the same verdict within-run
                        # and cross-run
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
                    .distinct()
                    .withColumn("_sem", F.lit(True))
                )
                sem = sem.unionByName(cross_hit).distinct()
            j = (
                j.join(sem, "doc_id", "left")
                .withColumn("_sem", F.coalesce(F.col("_sem"), F.lit(False)))
                # persist the semantic-dedup state on the verdict row
                # (the minhash_bands pattern): cell + embedding of
                # every doc that carried a vector this run
                .join(
                    # cell is an int literal inside semdedup_marks; cast
                    # long so vector-less runs' NULL branch matches
                    sem0.select(
                        "doc_id", F.col("cell").cast("long").alias("sem_cell")
                    )
                    .join(
                        vecs.select(
                            "doc_id",
                            F.col("embedding").cast(emb_t).alias("sem_emb"),
                        ),
                        "doc_id",
                    ),
                    "doc_id",
                    "left",
                )
            )
    else:
        j = j.withColumn("_sem", F.lit(False))

    reason = F.coalesce(
        F.col("drop_reason"),
        F.when(F.col("n_kept_lines") == 0, F.lit("boilerplate"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(F.col("_dup"), F.lit("dup"))
        .when(F.col("_near"), F.lit("near_dup"))
        .when(F.col("_sem"), F.lit("sem_dup")),
    )
    # The verdict table doubles as the CURATED CORPUS: kept docs carry
    # their cleaned text (dropped docs carry NULL — at 100 TB the
    # drop-fraction's bytes are the dominant storage cost and their
    # text is reproducible from input + reason), plus the source tag
    # the packer stratifies on. job_pack --from-verdicts consumes this
    # directly — curate -> pack with no second read of the raw corpus.
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
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
        F.when(reason.isNull(), F.col("kept_text")).alias("kept_text"),
        F.when(reason.isNull(), F.col("minhash_bands")).alias("minhash_bands"),
        *(["host_rank_mi"] if graph_prior is not None else []),
        *(["surprise_x16"] if lm_ref is not None else []),
        *(
            # the cross-run SemDedup state (kept docs only — a dropped
            # doc never owns a semantic slot), the minhash_bands rule
            [
                F.when(reason.isNull(), F.col("sem_cell")).alias("sem_cell"),
                F.when(reason.isNull(), F.col("sem_emb")).alias("sem_emb"),
            ]
            if embeddings is not None
            else []
        ),
    )
    if excise_spans:
        # Span surgery on the CURATED text (--excise-spans): repeated
        # 15-token windows are cut from every non-canonical kept doc
        # (operators/dedup.py excise_repeated_spans — min-id owner
        # keeps; the boilerplate layer line dedup cannot see because it
        # straddles line boundaries or rewraps). Runs AFTER the
        # keep/drop verdicts (surgery never changes who is kept, only
        # kept bytes) and BEFORE the BPE count (counts must price the
        # shipped text). Within-run scope like the near-dup components
        # (the resume-scope note; --recompute is the arbiter).
        # localCheckpoint: `out` feeds the surgery branch AND the final
        # join — unpinned, the whole curation DAG would run twice.
        from ocr_parallel_spark.operators.dedup import excise_repeated_spans

        out = out.localCheckpoint(eager=False)
        # newlines reflow to spaces BEFORE windowing: kept_text wraps
        # lines at per-doc offsets, so the same quoted paragraph
        # tokenizes differently across docs and no window would ever
        # match. Under this flag kept_text ships space-joined — the
        # packer's whitespace/BPE counts are line-agnostic anyway.
        surg = excise_repeated_spans(
            out.filter("kept").select(
                "doc_id",
                F.translate(F.col("kept_text"), "\n", " ").alias("kept_text"),
            ),
            "kept_text",
            "doc_id",
            w=15,
        ).select(
            "doc_id",
            F.col("deduped_text").alias("_sx_text"),
            F.col("n_removed").alias("n_excised_tokens"),
        )
        out = (
            out.join(surg, "doc_id", "left")
            .withColumn(
                "kept_text",
                F.when(F.col("kept"), F.coalesce(F.col("_sx_text"),
                                                 F.col("kept_text"))),
            )
            .withColumn(
                "n_excised_tokens",
                F.when(F.col("kept"),
                       F.coalesce(F.col("n_excised_tokens"), F.lit(0))),
            )
            .drop("_sx_text")
        )
    if bpe_merges is not None:
        # Tokenizer-faithful counts on the CURATED text (--bpe-merges):
        # one extra Arrow pass over kept docs only; dropped docs carry
        # NULL. job_pack --from-verdicts --n-tokens-col n_bpe_tokens
        # then packs by exactly these counts. localCheckpoint is
        # load-bearing: `out` feeds both the count branch and the
        # final join — unpinned, the WHOLE curation DAG (incl. the
        # LSH near-dup stage, the job's most expensive) would execute
        # twice.
        from ocr_parallel_spark.functions.tokenize import bpe_token_counts

        out = out.localCheckpoint(eager=False)
        counts = bpe_token_counts(
            # count over space-reflowed text: kept_text's newlines are
            # line FORMATTING, not token glue — "november\noscar" must
            # price as two words, not one unknown char-fallback blob
            # (also keeps counts identical whether or not the surgery
            # stage reflowed the text already)
            out.filter("kept").select(
                "doc_id",
                F.translate(F.col("kept_text"), "\n", " ").alias("kept_text"),
            ),
            bpe_merges,
            "kept_text",
            "doc_id",
        )
        out = out.join(counts, "doc_id", "left")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--input-format",
        choices=("parquet", "warc", "wet", "snapshot"),
        default="parquet",
        help="parquet: a docs table (doc_id, url, text, ...); warc: a "
        "directory of .warc/.warc.gz archives read via sources/warc.py "
        "(doc_id = xxhash64(url) for stable resume keys); wet: CC's "
        "pre-extracted-text *.warc.wet(.gz) shards (conversion "
        "records, same stable keys); snapshot: a SnapshotTable root "
        "(e.g. job_extract output) — with --since-ordinal only the "
        "files APPENDED after that commit are planned (incremental "
        "scan), the extract->curate chain's scale path",
    )
    ap.add_argument(
        "--since-ordinal",
        type=int,
        default=None,
        help="snapshot input only: read the increment appended after "
        "this committed ordinal instead of the whole table "
        "(io/snapshot.py read_increment; errors on rewritten lineage "
        "— fall back to a full read there)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--sniff-charset",
        action="store_true",
        help="warc input only: BOM/header/meta charset sniffing instead "
        "of assuming UTF-8 (kernel sniff_and_decode; replace, never raise)",
    )
    ap.add_argument("--blocklist", help="text file, one host per line")
    ap.add_argument(
        "--robots", help="parquet of robots bodies (host, robots_txt columns)"
    )
    ap.add_argument("--bench", help="parquet of eval docs (text column)")
    ap.add_argument("--min-line-count", type=int, default=5)
    ap.add_argument(
        "--near-dup",
        action="store_true",
        help="add the fuzzy-dedup stage (MinHash LSH -> exact-Jaccard "
        "verify -> connected components; non-canonical cluster members "
        "dropped as near_dup)",
    )
    ap.add_argument("--near-dup-threshold", type=float, default=0.5)
    ap.add_argument(
        "--quality-filter",
        action="store_true",
        help="add the classifier quality screen (drop_reason "
        "low_quality); pass --quality-weights for the trained model, "
        "else the stand-in scorer runs (plumbing-only signal)",
    )
    ap.add_argument(
        "--quality-weights",
        help="parquet of trained ternary-vote weights (_bucket, _wt) "
        "fit by train_quality_weights; measured precision/recall 1.0 "
        "on the planted-taint holdout (quality_trained gate)",
    )
    ap.add_argument(
        "--lm-ref",
        help="parquet of trusted reference docs (text column): adds the "
        "CCNet-style trigram-LM surprise screen (drop_reason "
        "high_surprise; per-doc surprise_x16 recorded on the verdict)",
    )
    ap.add_argument(
        "--lm-max-x16",
        type=int,
        default=288,
        help="LM screen threshold in sixteenths-of-a-bit average "
        "surprise (default 288 = 18 bits/gram; corpus-dependent — "
        "derive from the reference distribution, cf. lm_terciles)",
    )
    ap.add_argument(
        "--graph-prior",
        help="parquet of per-host authority (host, host_rank_mi) — "
        "e.g. a persisted pagerank_by_host rollup; recorded as a "
        "verdict column and used as the exact-dup canonical "
        "tiebreaker (highest host rank keeps the slot)",
    )
    ap.add_argument(
        "--bpe-merges",
        type=int,
        default=0,
        help="fit a deterministic N-merge BPE on the input corpus and "
        "emit n_bpe_tokens (count of kept_text) on every kept verdict "
        "row; feeds job_pack --n-tokens-col n_bpe_tokens",
    )
    ap.add_argument(
        "--excise-spans",
        action="store_true",
        help="span SURGERY on the curated text: repeated 15-token "
        "windows are cut from every non-canonical kept doc (min-id "
        "owner keeps); verdicts unchanged, kept bytes shrink, "
        "n_excised_tokens recorded; within-run scope (--recompute is "
        "the arbiter)",
    )
    ap.add_argument(
        "--lm-drop-tail",
        action="store_true",
        help="LM screen: instead of the fixed --lm-max-x16, drop the "
        "tail TERCILE of the scored distribution (CCNet's head/middle/"
        "tail practice; cutoff derived exactly like lm_terciles). The "
        "cut is derived from THIS RUN's scored docs — under "
        "incremental resume each delta gets its own cut (slice-local, "
        "like line frequencies and near-dup components; see the "
        "resume-scope note in build_output); --recompute re-derives "
        "the corpus-global cut",
    )
    ap.add_argument(
        "--embeddings",
        help="parquet of per-doc embeddings (doc_id or vec_id + "
        "embedding array): adds the SemDedup screen — k-means cells, "
        "within-cell cosine >= --sem-threshold marks, min-id canon; "
        "non-canonical members drop as sem_dup. Kept docs persist "
        "(sem_cell, sem_emb) on their verdicts, and incremental runs "
        "with --sem-centroids screen new docs against the committed "
        "embeddings too (cross-run scope; without pinned centroids "
        "the screen is within-run / recompute only; "
        "functions/similarity.py semdedup_marks)",
    )
    ap.add_argument("--sem-threshold", type=float, default=0.9)
    ap.add_argument(
        "--sem-centroids",
        help="json list of k-means centroids (job_index --kind ivf "
        "writes one): pins the SemDedup cell geometry across "
        "incremental runs instead of a slice-local refit",
    )
    ap.add_argument(
        "--sem-cells",
        type=int,
        default=64,
        help="SemDedup k-means cell count (size so avg occupancy keeps "
        "the within-cell pair join tractable; occupancy is also "
        "hard-capped in the operator)",
    )
    ap.add_argument(
        "--bloom-bits",
        type=int,
        default=0,
        help="enable the Bloom sidecar over committed kept hashes "
        "(functions/bloom.py): incremental runs prefilter the cross-run "
        "exact-dedup semi-join with broadcast-only probes — identical "
        "verdicts, the committed hash set only re-scanned when the "
        "sidecar is stale. Size at ~10 bits per expected committed key; "
        "0 disables",
    )
    ap.add_argument(
        "--recompute",
        action="store_true",
        help="full-corpus arbiter for the incremental-resume tension: "
        "re-run the whole composition over ALL input docs (no TODO "
        "anti-join) and OVERWRITE the committed verdicts in one new "
        "snapshot — corpus-global signals (line frequencies, dup "
        "ranking, near-dup components) are re-derived from corpus "
        "truth. Time travel to the pre-recompute snapshots remains.",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ocr-parallel-spark-curate").getOrCreate()

    from ocr_parallel_spark.io.snapshot import (
        SnapshotTable,
        commit_counted,
        run_resumable,
    )

    if args.input_format == "warc":
        from ocr_parallel_spark.sources.warc import warc_docs

        docs = warc_docs(spark, args.input, sniff_charset=args.sniff_charset)
    elif args.input_format == "wet":
        from ocr_parallel_spark.sources.warc import wet_docs

        docs = wet_docs(spark, args.input)
    elif args.input_format == "snapshot":
        # The extract -> curate chain: consume the extract job's
        # committed output table. With --since-ordinal the scan plans
        # ONLY the files appended after that commit — the resume
        # anti-join still guarantees exactly-once on doc_id, but it now
        # runs over the delta instead of the accumulated corpus.
        from pyspark.sql import functions as F

        src_table = SnapshotTable(args.input)
        if args.since_ordinal is not None:
            src = src_table.read_increment(spark, args.since_ordinal)
        else:
            src = src_table.read(spark)
        if src is None:
            print(json.dumps({"ordinal": -1, "noop": True,
                              "reason": "no rows appended since ordinal"}))
            spark.stop()
            return
        cols = set(src.columns)
        docs = src
        if "doc_id" not in cols:
            docs = docs.withColumn("doc_id", F.xxhash64("url"))
        if "source" not in cols:
            docs = docs.withColumn("source", F.lit("snapshot"))
    else:
        docs = spark.read.parquet(args.input)
    blocked = None
    if args.blocklist:
        with open(args.blocklist, encoding="utf-8") as fh:
            hosts = [(ln.strip(),) for ln in fh if ln.strip()]
        blocked = spark.createDataFrame(hosts, "host string")
    bench = spark.read.parquet(args.bench) if args.bench else None
    robots = spark.read.parquet(args.robots) if args.robots else None
    table = SnapshotTable(args.output)

    # Committed kept-doc hashes make exact dedup cross-run correct on
    # incremental runs (recompute re-derives everything, so none there).
    # Pinned SemDedup centroids load early: the committed-state block
    # below gates cross-run screening on their digest matching the
    # committed lineage's.
    sem_cents = None
    sem_geo = None
    if args.sem_centroids:
        import hashlib as _hashlib
        import json as _json

        with open(args.sem_centroids) as fh:
            sem_cents = _json.load(fh)
        sem_geo = _hashlib.sha256(
            _json.dumps(sem_cents).encode()
        ).hexdigest()[:16]

    prior_hashes = None
    prior_neardup = None
    prior_sem = None
    sem_emb_type = None
    if not args.recompute:
        committed = table.read(spark)
        if committed is not None and "content_sha" in committed.columns:
            prior_hashes = committed.filter("kept").select("content_sha")
            if (
                args.near_dup
                and "minhash_bands" in committed.columns
                and "kept_text" in committed.columns
            ):
                prior_neardup = committed.filter("kept").select(
                    "doc_id", "kept_text", "minhash_bands"
                )
            if args.embeddings and "sem_emb" in committed.columns:
                import sys as _sys

                # appends must match the committed column's array type
                # regardless of cross-run gating — mixing float and
                # double pages under one parquet column poisons reads
                sem_emb_type = committed.schema["sem_emb"].dataType
                committed_geo = (
                    (table.current_snapshot() or {}).get("lineage") or {}
                ).get("sem_geo")
                if args.sem_centroids and committed_geo == sem_geo:
                    # cross-run SemDedup is only sound under the pinned
                    # geometry the committed sem_cell values were
                    # assigned in (build_output docstring) — proven by
                    # the lineage digest, not assumed from flag presence
                    prior_sem = committed.filter(
                        "kept and sem_emb is not null"
                    ).select("doc_id", "sem_cell", "sem_emb")
                elif args.sem_centroids and committed_geo is not None:
                    raise SystemExit(
                        "--sem-centroids does not match the geometry the "
                        "committed sem_cell values were assigned under "
                        f"(lineage sem_geo {committed_geo!r} != {sem_geo!r});"
                        " use the original centroids file, or --recompute "
                        "to re-derive the whole table under the new one"
                    )
                elif args.sem_centroids:
                    print(
                        "warning: committed verdicts predate geometry "
                        "lineage (no sem_geo recorded — slice-local fit "
                        "or older commit); cross-run SemDedup skipped. "
                        "Run --recompute with --sem-centroids to adopt a "
                        "pinned geometry",
                        file=_sys.stderr,
                    )
                else:
                    print(
                        "warning: committed verdicts carry sem_emb but no "
                        "--sem-centroids was given; cross-run SemDedup "
                        "skipped (a slice-local refit would not match the "
                        "committed cell geometry)",
                        file=_sys.stderr,
                    )

    # Bloom sidecar (--bloom-bits): a persisted word table over the
    # committed KEPT hashes lives beside the verdicts. Loaded only when
    # its lineage proves it covers the verdict table's CURRENT ordinal
    # with the same (n_bits, n_hashes) — a sidecar that missed a commit
    # would have false negatives, i.e. missed cross-run dups, so a stale
    # one is rebuilt from the full committed set rather than trusted.
    import os as _os

    prior_bloom = None
    bloom_table = None
    if args.bloom_bits and not args.recompute:
        bloom_table = SnapshotTable(_os.path.join(args.output, "_bloom"))
        if prior_hashes is not None:
            verd_ord = table.current_snapshot()["ordinal"]
            bsnap = bloom_table.current_snapshot()
            lin = (bsnap or {}).get("lineage", {})
            if not (
                lin.get("n_bits") == args.bloom_bits
                and lin.get("n_hashes") == 4
                and lin.get("covers_ordinal") == verd_ord
            ):
                from ocr_parallel_spark.functions.bloom import bloom_build

                bloom_table.overwrite(
                    bloom_build(prior_hashes, "content_sha", args.bloom_bits, 4),
                    lineage={
                        "n_bits": args.bloom_bits,
                        "n_hashes": 4,
                        "covers_ordinal": verd_ord,
                        "mode": "rebuild",
                    },
                )
            prior_bloom = bloom_table.read(spark)

    bpe_merges = None
    if args.bpe_merges:
        # The merge table is PINNED per output table: fit once on the
        # first run (or on --recompute, which rewrites every row
        # anyway) and persist beside the snapshots; incremental runs
        # RELOAD it instead of refitting — refitting on a grown corpus
        # would hand new verdict rows a different tokenizer than the
        # committed rows, and a pack over that table would budget
        # windows against two incompatible counts.
        import os

        from pyspark.sql import functions as F

        from ocr_parallel_spark.functions.tokenize import fit_bpe_merges
        from ocr_parallel_spark.kernel.bpe import (
            merges_from_strings,
            merges_to_strings,
        )
        from ocr_parallel_spark.operators.classify import normalize_col

        merges_path = os.path.join(args.output, "bpe_merges.json")
        if os.path.exists(merges_path) and not args.recompute:
            import json as _json

            with open(merges_path) as fh:
                bpe_merges = merges_from_strings(_json.load(fh))
        else:
            bpe_merges = fit_bpe_merges(
                docs.select(
                    normalize_col(
                        F.coalesce(F.col("text"), F.lit(""))
                    ).alias("norm")
                ),
                "norm",
                n_merges=args.bpe_merges,
            )
            import json as _json

            os.makedirs(args.output, exist_ok=True)
            with open(merges_path, "w") as fh:
                _json.dump(merges_to_strings(bpe_merges), fh)

    emb_df = None
    if args.embeddings:
        from pyspark.sql import functions as F

        emb_df = spark.read.parquet(args.embeddings)
        if "doc_id" not in emb_df.columns and "vec_id" in emb_df.columns:
            emb_df = emb_df.withColumnRenamed("vec_id", "doc_id")
        emb_df = emb_df.select("doc_id", "embedding")

    def transform(d):
        return build_output(
            spark,
            d,
            blocked,
            bench,
            args.min_line_count,
            robots_df=robots,
            near_dup=args.near_dup,
            near_dup_threshold=args.near_dup_threshold,
            # supplying a trained model IS opting into the screen —
            # --quality-weights alone must never be silently ignored
            quality_filter=args.quality_filter or bool(args.quality_weights),
            quality_weights=(
                spark.read.parquet(args.quality_weights)
                if args.quality_weights
                else None
            ),
            lm_ref=(
                spark.read.parquet(args.lm_ref) if args.lm_ref else None
            ),
            lm_max_x16=args.lm_max_x16,
            lm_tail_drop=args.lm_drop_tail,
            graph_prior=(
                spark.read.parquet(args.graph_prior)
                if args.graph_prior
                else None
            ),
            bpe_merges=bpe_merges,
            prior_kept_hashes=prior_hashes,
            prior_kept_neardup=prior_neardup,
            prior_bloom=prior_bloom,
            bloom_bits=args.bloom_bits,
            embeddings=emb_df,
            sem_threshold=args.sem_threshold,
            sem_cells=args.sem_cells,
            sem_centroids=sem_cents,
            prior_sem=prior_sem,
            sem_emb_type=sem_emb_type,
            excise_spans=args.excise_spans,
        )

    if args.recompute:
        # Full-corpus arbiter: corpus-global verdicts recomputed over
        # the entire input and committed as an overwrite snapshot,
        # counted by the write itself (run_resumable does the same).
        lineage = {"input": args.input, "mode": "recompute"}
        if sem_geo is not None:
            lineage["sem_geo"] = sem_geo
        snap = commit_counted(table, transform(docs), lineage, replace=True)
    else:
        snap = run_resumable(
            docs,
            table,
            spark,
            transform,
            key_col="doc_id",
            lineage={
                "input": args.input,
                **({"sem_geo": sem_geo} if sem_geo is not None else {}),
            },
        )
    if args.bloom_bits and not snap.get("noop"):
        # Keep the sidecar covering the NEW ordinal: append runs fold
        # only the just-committed run directory's kept hashes in
        # (bloom_merge — no rescan of the committed corpus, the whole
        # point of the sidecar); recompute/first runs build from the
        # full committed kept set.
        from ocr_parallel_spark.functions.bloom import bloom_build, bloom_merge

        if bloom_table is None:
            bloom_table = SnapshotTable(_os.path.join(args.output, "_bloom"))
        new_ord = table.current_snapshot()["ordinal"]
        if prior_bloom is not None and not args.recompute:
            run_df = spark.read.parquet(
                _os.path.join(args.output, snap["data_dirs"][-1])
            )
            words = bloom_merge(
                prior_bloom,
                bloom_build(
                    run_df.filter("kept").select("content_sha"),
                    "content_sha",
                    args.bloom_bits,
                    4,
                ),
            )
            mode = "merge"
        else:
            committed_now = table.read(spark)
            words = bloom_build(
                committed_now.filter("kept").select("content_sha"),
                "content_sha",
                args.bloom_bits,
                4,
            )
            mode = "rebuild"
        bloom_table.overwrite(
            words,
            lineage={
                "n_bits": args.bloom_bits,
                "n_hashes": 4,
                "covers_ordinal": new_ord,
                "mode": mode,
            },
        )
    print(json.dumps(snap))
    spark.stop()


if __name__ == "__main__":
    main()
