#!/usr/bin/env python
"""Package + spark-submit entrypoint (north_star packaging requirement).

Builds the ``--py-files`` zip of ocr_parallel_spark and either prints the
spark-submit command (default) or execs it (``--run``). The default job
script is ``scripts/job_extract.py`` — the production batch: read pages
parquet/Iceberg table -> extraction pipeline -> snapshot-committed output
with lineage, resumable. ``--job full-process --targets targets.csv``
submits ``scripts/job_full_process.py`` instead (the SURVEY §3.3
composite: chunk -> localize -> boundary refine -> commit).

    python scripts/submit.py --input /data/pages --output /data/results \
        [--job full-process --targets t.csv] [--master spark://...] [--run]
"""

from __future__ import annotations

import argparse
import os
import pathlib
import subprocess
import sys
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent

# The job profile every submitted job runs under (all runtime-settable
# ``spark.sql.*`` keys). Shuffle widths come from the data: with no
# ``spark.sql.shuffle.partitions`` set, AQE coalesces each 200-way
# shuffle down to about ``defaultParallelism`` tasks. Timings are the
# perfbench job walls on 4 cores: extract_heavy (job_extract over 1000
# heavy pages) and full_process.
JOB_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    # Splits oversized hot-key partitions of shuffled joins.
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # Without coalescing every reduce stage ran 200 tasks of ~15 ms and
    # extract_heavy took 26-29 s for ~2 core-s of kernel (5-7 s with).
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    # With parallelismFirst, coalescing then never drops below
    # defaultParallelism tasks; the 1 MB default packs small shuffles
    # into fewer tasks than cores (full_process 11.5-12.3 s vs 7.4-8.2 s).
    ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1"),
    # Lets AQE coalesce persisted frames too: without it the near-dup
    # persist kept 200 partitions (extract_heavy 15-17 s vs 5.5-6.4 s).
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    # CC pages are KB-MB blobs: small scan splits keep every core fed.
    ("spark.sql.files.maxPartitionBytes", "16m"),
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "2048"),
)


def build_zip(dest: pathlib.Path) -> pathlib.Path:
    """Zip the package (source only) for --py-files shipping."""
    dest.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = REPO / "ocr_parallel_spark"
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    return dest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table/parquet dir (optional for --job pack --from-verdicts)")
    ap.add_argument("--output", required=True, help="snapshot table root")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--zip", default="/tmp/ocr_parallel_spark.zip")
    ap.add_argument("--executor-memory", default="4g")
    ap.add_argument("--run", action="store_true", help="exec spark-submit")
    ap.add_argument(
        "--job",
        choices=["extract", "full-process", "curate", "pack", "train-quality",
                 "index"],
        default="extract",
        help="which batch job to submit",
    )
    ap.add_argument(
        "--verdicts",
        help="pack job: curation-verdicts table (only kept docs pack)",
    )
    ap.add_argument(
        "--from-verdicts",
        help="pack job: pack the curated corpus (kept_text) straight "
        "out of this verdicts table — no raw-corpus --input needed",
    )
    ap.add_argument(
        "--verdicts-since",
        type=int,
        default=None,
        help="pack job + --from-verdicts: consume only the verdicts "
        "increment appended after this committed ordinal",
    )
    ap.add_argument(
        "--window-tokens", type=int, help="pack job: context window length"
    )
    ap.add_argument(
        "--n-tokens-col",
        help="pack job: docs column with precomputed tokenizer counts",
    )
    ap.add_argument(
        "--shards",
        type=int,
        help="pack job: shuffle all committed windows into this many "
        "training shards (writes --shards-output)",
    )
    ap.add_argument(
        "--shards-output",
        help="pack job: parquet root for the sharded window assignment",
    )
    ap.add_argument(
        "--input-format",
        choices=["parquet", "warc", "wet", "snapshot"],
        help="extract/curate jobs: read --input as raw WARC archives; "
        "snapshot (curate only): a committed SnapshotTable, e.g. the "
        "extract job's output (pair with --since-ordinal for the "
        "incremental extract->curate chain)",
    )
    ap.add_argument(
        "--since-ordinal",
        type=int,
        default=None,
        help="curate job + snapshot input: process only the rows "
        "appended after this committed ordinal (incremental scan)",
    )
    ap.add_argument(
        "--sniff-charset",
        action="store_true",
        help="curate job + warc input: charset sniffing instead of UTF-8",
    )
    ap.add_argument("--blocklist", help="hosts file (curate job only)")
    ap.add_argument(
        "--robots", help="robots parquet (host, robots_txt) (curate job only)"
    )
    ap.add_argument("--bench", help="eval-docs parquet (curate job only)")
    ap.add_argument(
        "--min-line-count",
        type=int,
        help="boilerplate line-frequency threshold (curate job only)",
    )
    ap.add_argument(
        "--near-dup",
        action="store_true",
        help="curate job: add the MinHash->verify->components fuzzy-dedup stage",
    )
    ap.add_argument(
        "--near-dup-threshold",
        type=float,
        help="curate job: exact-Jaccard verify threshold (default 0.5)",
    )
    ap.add_argument(
        "--recompute",
        action="store_true",
        help="curate job: full-corpus arbiter — recompute every verdict "
        "over ALL input and overwrite the committed table",
    )
    ap.add_argument(
        "--quality-weights",
        help="curate job: parquet of trained (_bucket, _wt) votes",
    )
    ap.add_argument(
        "--graph-prior",
        help="curate job: parquet of per-host authority (host, "
        "host_rank_mi) used as dup-canonical tiebreaker",
    )
    ap.add_argument(
        "--lm-ref",
        help="curate job: parquet of trusted reference docs for the "
        "trigram-LM surprise screen (high_surprise)",
    )
    ap.add_argument(
        "--lm-max-x16",
        type=int,
        help="curate job: LM screen threshold (sixteenths-of-a-bit "
        "average surprise; default 288)",
    )
    ap.add_argument(
        "--lm-drop-tail",
        action="store_true",
        help="curate job: derive the LM cutoff from the scored "
        "distribution (drop the tail tercile) instead of --lm-max-x16",
    )
    ap.add_argument(
        "--excise-spans",
        action="store_true",
        help="curate job: cut repeated 15-token windows out of every "
        "non-canonical kept doc's curated text (span surgery)",
    )
    ap.add_argument(
        "--bpe-merges",
        type=int,
        help="curate job: fit an N-merge BPE and emit n_bpe_tokens on "
        "kept verdicts (feeds pack --n-tokens-col n_bpe_tokens)",
    )
    ap.add_argument(
        "--quality-filter",
        action="store_true",
        help="curate job: hashed-linear classifier screen (low_quality)",
    )
    ap.add_argument(
        "--embeddings",
        help="curate job: per-doc embeddings parquet — adds the SemDedup "
        "screen (drop_reason sem_dup)",
    )
    ap.add_argument("--sem-threshold", type=float, default=None)
    ap.add_argument("--sem-cells", type=int, default=None)
    ap.add_argument(
        "--sem-centroids",
        help="curate job: pinned k-means centroids json (job_index "
        "output) for cross-run-stable SemDedup cells",
    )
    ap.add_argument(
        "--bloom-bits",
        type=int,
        default=0,
        help="curate job: persisted Bloom sidecar over committed kept "
        "hashes prefilters the cross-run exact-dedup semi-join "
        "(broadcast-only probes; ~10 bits per expected committed key)",
    )
    ap.add_argument(
        "--index-kind",
        choices=["ivf", "lsh"],
        default=None,
        help="index job: which ANN index to build/maintain",
    )
    ap.add_argument(
        "--index-cells",
        type=int,
        default=None,
        help="index job (ivf): k-means cell count",
    )
    ap.add_argument(
        "--index-rebuild",
        action="store_true",
        help="index job: refit the geometry and overwrite (drift arbiter)",
    )
    ap.add_argument("--targets", help="targets CSV (full-process job only)")
    ap.add_argument(
        "--start-marker",
        action="append",
        help="boundary start marker (repeatable; full-process only). "
        "REQUIRED in production: the defaults are synthetic-corpus "
        "literals that will never fire on real pages.",
    )
    ap.add_argument("--end-after-marker", action="append")
    ap.add_argument("--end-before-marker", action="append")
    args = ap.parse_args()
    if args.job == "full-process" and not args.targets:
        ap.error("--job full-process requires --targets")
    if not args.input and not (args.job == "pack" and args.from_verdicts):
        ap.error("--input is required (except --job pack --from-verdicts)")

    zip_path = build_zip(pathlib.Path(args.zip))
    cmd = [
        "spark-submit",
        "--master", args.master,
        "--py-files", str(zip_path),
        "--executor-memory", args.executor_memory,
        *(w for k, v in JOB_CONFS for w in ("--conf", f"{k}={v}")),
        str(
            REPO
            / "scripts"
            / {
                "extract": "job_extract.py",
                "full-process": "job_full_process.py",
                "curate": "job_curate.py",
                "pack": "job_pack.py",
                "train-quality": "job_train_quality.py",
                "index": "job_index.py",
            }[args.job]
        ),
        "--output", args.output,
    ]
    if args.input:
        cmd += ["--input", args.input]
    if args.since_ordinal is not None and args.job == "curate":
        cmd += ["--since-ordinal", str(args.since_ordinal)]
    if args.input_format and args.job in ("extract", "curate"):
        if args.job == "extract" and args.input_format == "snapshot":
            ap.error("--input-format snapshot is curate-only")
        if args.job == "extract" and args.input_format == "wet":
            # WET shards carry pre-EXTRACTED text — there is no html for
            # the extract job to process. Fail here with a real message
            # instead of forwarding a flag job_extract rejects.
            ap.error(
                "--input-format wet is curate-only (WET records are "
                "already extracted text; use --job curate)"
            )
        cmd += ["--input-format", args.input_format]
    if args.job == "curate":
        if args.sniff_charset:
            cmd += ["--sniff-charset"]
        if args.blocklist:
            cmd += ["--blocklist", args.blocklist]
        if args.robots:
            cmd += ["--robots", args.robots]
        if args.bench:
            cmd += ["--bench", args.bench]
        if args.min_line_count is not None:
            cmd += ["--min-line-count", str(args.min_line_count)]
        if args.near_dup:
            cmd += ["--near-dup"]
        if args.near_dup_threshold is not None:
            cmd += ["--near-dup-threshold", str(args.near_dup_threshold)]
        if args.recompute:
            cmd += ["--recompute"]
        if args.quality_filter:
            cmd += ["--quality-filter"]
        if args.quality_weights:
            cmd += ["--quality-weights", args.quality_weights]
        if args.graph_prior:
            cmd += ["--graph-prior", args.graph_prior]
        if args.lm_ref:
            cmd += ["--lm-ref", args.lm_ref]
        if args.lm_max_x16 is not None:
            cmd += ["--lm-max-x16", str(args.lm_max_x16)]
        if args.lm_drop_tail:
            cmd += ["--lm-drop-tail"]
        if args.excise_spans:
            cmd += ["--excise-spans"]
        if args.bpe_merges:
            cmd += ["--bpe-merges", str(args.bpe_merges)]
        if args.bloom_bits:
            cmd += ["--bloom-bits", str(args.bloom_bits)]
        if args.embeddings:
            cmd += ["--embeddings", args.embeddings]
        if args.sem_threshold is not None:
            cmd += ["--sem-threshold", str(args.sem_threshold)]
        if args.sem_cells is not None:
            cmd += ["--sem-cells", str(args.sem_cells)]
        if args.sem_centroids:
            cmd += ["--sem-centroids", args.sem_centroids]
    if args.job == "pack":
        if args.verdicts:
            cmd += ["--verdicts", args.verdicts]
        if args.from_verdicts:
            cmd += ["--from-verdicts", args.from_verdicts]
        if args.verdicts_since is not None:
            cmd += ["--verdicts-since", str(args.verdicts_since)]
        if args.window_tokens is not None:
            cmd += ["--window-tokens", str(args.window_tokens)]
        if args.n_tokens_col:
            cmd += ["--n-tokens-col", args.n_tokens_col]
        if args.shards:
            cmd += ["--shards", str(args.shards)]
        if args.shards_output:
            cmd += ["--shards-output", args.shards_output]
    if args.job == "index":
        if args.index_kind:
            cmd += ["--kind", args.index_kind]
        if args.index_cells is not None:
            cmd += ["--cells", str(args.index_cells)]
        if args.index_rebuild:
            cmd += ["--rebuild"]
    if args.job == "full-process":
        cmd += ["--targets", args.targets]
        for m in args.start_marker or []:
            cmd += ["--start-marker", m]
        for m in args.end_after_marker or []:
            cmd += ["--end-after-marker", m]
        for m in args.end_before_marker or []:
            cmd += ["--end-before-marker", m]
    print(" ".join(cmd))
    if args.run:
        env = dict(os.environ)
        sys.exit(subprocess.run(cmd, env=env).returncode)


if __name__ == "__main__":
    main()
