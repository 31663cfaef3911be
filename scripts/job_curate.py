"""Web-corpus curation batch job (spark-submit entrypoint).

docs (parquet, WARC/WET archives or an extract snapshot) -> the curation
composition (``ocr_parallel_spark/curation_pipeline.py``
``run_curation_pipeline``: screens, line dedup, decontamination, exact,
near and semantic dedup) -> per-doc verdict rows snapshot-committed,
resumable on doc_id (a crash or a re-run with new docs processes only
never-committed ids). This script parses arguments, reads the inputs and
the committed state the cross-run dedup needs (kept hashes, band
signatures, embeddings under a pinned geometry), keeps the Bloom sidecar
and the pinned BPE merges, and commits.

    spark-submit --py-files ocr_parallel_spark.zip scripts/job_curate.py \
        --input /data/docs --output /data/verdicts \
        [--input-format warc]  # raw .warc/.warc.gz archives instead of parquet
        [--blocklist hosts.txt] [--bench /data/eval_docs]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys


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
        "resume-scope note in run_curation_pipeline); --recompute re-derives "
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
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("ocr-parallel-spark-curate").getOrCreate()

    from ocr_parallel_spark.curation_pipeline import run_curation_pipeline
    from ocr_parallel_spark.functions.bloom import (
        BLOOM_HASHES,
        bloom_build,
        bloom_merge,
    )
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

    def read_opt(path):
        return spark.read.parquet(path) if path else None

    table = SnapshotTable(args.output)

    # Committed kept-doc hashes make exact dedup cross-run correct on
    # incremental runs (recompute re-derives everything, so none there).
    # Pinned SemDedup centroids load early: the committed-state block
    # below gates cross-run screening on their digest matching the
    # committed lineage's.
    sem_cents = None
    sem_geo = None
    if args.sem_centroids:
        with open(args.sem_centroids) as fh:
            sem_cents = json.load(fh)
        sem_geo = hashlib.sha256(json.dumps(sem_cents).encode()).hexdigest()[:16]

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
                    # assigned in (run_curation_pipeline docstring) —
                    # proven by the lineage digest, not assumed from flag
                    # presence
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
                        file=sys.stderr,
                    )
                else:
                    print(
                        "warning: committed verdicts carry sem_emb but no "
                        "--sem-centroids was given; cross-run SemDedup "
                        "skipped (a slice-local refit would not match the "
                        "committed cell geometry)",
                        file=sys.stderr,
                    )

    # Bloom sidecar (--bloom-bits): a persisted word table over the
    # committed KEPT hashes lives beside the verdicts. Loaded only when
    # its lineage proves it covers the verdict table's CURRENT ordinal
    # with the same (n_bits, n_hashes) — a sidecar that missed a commit
    # would have false negatives, i.e. missed cross-run dups, so a stale
    # one is rebuilt from the full committed set rather than trusted.
    def bloom_lineage(covers_ordinal, mode):
        return {
            "n_bits": args.bloom_bits,
            "n_hashes": BLOOM_HASHES,
            "covers_ordinal": covers_ordinal,
            "mode": mode,
        }

    bloom_table = SnapshotTable(os.path.join(args.output, "_bloom"))
    prior_bloom = None
    if args.bloom_bits and not args.recompute and prior_hashes is not None:
        lin = (bloom_table.current_snapshot() or {}).get("lineage", {})
        want = bloom_lineage(table.current_snapshot()["ordinal"], "rebuild")
        if any(
            lin.get(k) != want[k] for k in ("n_bits", "n_hashes", "covers_ordinal")
        ):
            bloom_table.overwrite(
                bloom_build(prior_hashes, "content_sha", args.bloom_bits),
                lineage=want,
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
        from ocr_parallel_spark.functions.tokenize import fit_bpe_merges
        from ocr_parallel_spark.kernel.bpe import (
            merges_from_strings,
            merges_to_strings,
        )
        from ocr_parallel_spark.operators.classify import normalize_col

        merges_path = os.path.join(args.output, "bpe_merges.json")
        if os.path.exists(merges_path) and not args.recompute:
            with open(merges_path) as fh:
                bpe_merges = merges_from_strings(json.load(fh))
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
            os.makedirs(args.output, exist_ok=True)
            with open(merges_path, "w") as fh:
                json.dump(merges_to_strings(bpe_merges), fh)

    emb_df = read_opt(args.embeddings)
    if emb_df is not None:
        if "doc_id" not in emb_df.columns and "vec_id" in emb_df.columns:
            emb_df = emb_df.withColumnRenamed("vec_id", "doc_id")
        emb_df = emb_df.select("doc_id", "embedding")

    def transform(d):
        return run_curation_pipeline(
            d,
            blocked,
            read_opt(args.bench),
            args.min_line_count,
            robots_df=read_opt(args.robots),
            near_dup=args.near_dup,
            near_dup_threshold=args.near_dup_threshold,
            # supplying a trained model IS opting into the screen —
            # --quality-weights alone must never be silently ignored
            quality_filter=args.quality_filter or bool(args.quality_weights),
            quality_weights=read_opt(args.quality_weights),
            lm_ref=read_opt(args.lm_ref),
            lm_max_x16=None if args.lm_drop_tail else args.lm_max_x16,
            graph_prior=read_opt(args.graph_prior),
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
        if prior_bloom is not None and not args.recompute:
            run_df = spark.read.parquet(
                os.path.join(args.output, snap["data_dirs"][-1])
            )
            words = bloom_merge(
                prior_bloom,
                bloom_build(
                    run_df.filter("kept").select("content_sha"),
                    "content_sha",
                    args.bloom_bits,
                ),
            )
            mode = "merge"
        else:
            words = bloom_build(
                table.read(spark).filter("kept").select("content_sha"),
                "content_sha",
                args.bloom_bits,
            )
            mode = "rebuild"
        bloom_table.overwrite(
            words,
            lineage=bloom_lineage(table.current_snapshot()["ordinal"], mode),
        )
    print(json.dumps(snap))
    spark.stop()


if __name__ == "__main__":
    main()
