"""Training-shard sequence-packing batch job (spark-submit entrypoint) —
the curation pipeline's terminal stage: curated docs -> packed context
windows.

docs parquet (doc_id, text, source) [optionally joined against a
committed curation-verdicts snapshot table so only kept docs pack] ->
per-source concat-and-split packing (operators/chunking.py
pack_sequences — the same core the oracle-gated ``sequence_pack``
catalog query pins) -> one pack-manifest row per doc (exact bigint
offset, window ids, straddle flag) snapshot-committed.

Resumable on doc_id with OFFSET CONTINUATION: an incremental run packs
only never-committed docs, but each source's stream start is the
committed stream END (max(tok_offset + n_tokens) per source read from
the table), so the union of all committed runs equals one batch pack of
the docs in arrival order.

    spark-submit --py-files ocr_parallel_spark.zip scripts/job_pack.py \
        --input /data/docs --output /data/packs \
        [--verdicts /data/verdicts] [--window-tokens 512] \
        [--shards 1024 --shards-output /data/shards]

``--shards N`` adds the training-loader's last step: every committed
context window is deterministically hash-shuffled into one of N shard
files (operators/chunking.py shard_shuffle — the oracle-gated
``shard_shuffle`` catalog query pins the permutation), breaking the
source-ordered runs the packer necessarily emits.
"""

from __future__ import annotations

import argparse
import json


def committed_base_offsets(spark, table):
    """Per-source next pack offset from the committed pack table:
    ``(source, base_offset)`` — the packed stream's current end. None
    when the table is empty (first run)."""
    from pyspark.sql import functions as F

    committed = table.read(spark)
    if committed is None:
        return None
    return committed.groupBy("source").agg(
        F.max(F.col("tok_offset") + F.col("n_tokens"))
        .cast("long")
        .alias("base_offset")
    )


def build_output(spark, docs, window_tokens, base_offsets=None, n_tokens_col=None):
    """The packing transform over one run's TODO slice.

    ``n_tokens_col`` names a column already on the docs table carrying
    a real tokenizer's counts (e.g. a BPE pass landed them upstream);
    offsets/window ids then match deployment tokenization exactly.
    Default: the whitespace counter inside pack_sequences (the oracle
    twin)."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.operators.chunking import pack_sequences
    from ocr_parallel_spark.operators.classify import normalize_col

    withnorm = docs.withColumn("norm", normalize_col(F.coalesce(F.col("text"), F.lit(""))))
    return pack_sequences(
        withnorm,
        window_tokens,
        base_offsets=base_offsets,
        n_tokens_col=n_tokens_col,
    )


def write_shards(spark, table, n_shards, path):
    """Shuffle every committed context window into ``n_shards``
    training shards and write them partitioned by shard_id.

    A FULL recompute over the committed manifest (all runs, not just
    the latest slice): the shuffle is global by definition — appending
    windows shifts every later shard_pos — so the output is
    overwrite-only, and being a pure function of (seed, window keys)
    it is identical across re-runs at the same committed state. One
    map-side key pass + one exchange on shard_id; each shard sorts and
    writes in one task (the per-task bound is total/n_shards — the
    caller's knob, immune to source skew)."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.operators.chunking import shard_shuffle

    manifest = table.read(spark)
    windows = manifest.select(
        "source",
        F.explode(F.sequence("win_start", "win_end")).alias("win_id"),
    ).distinct()
    (
        shard_shuffle(windows, n_shards)
        .repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="docs parquet (doc_id, text, source)")
    ap.add_argument("--output", required=True, help="pack-manifest snapshot table root")
    ap.add_argument(
        "--verdicts",
        help="curation-verdicts snapshot table: only docs with kept=true pack",
    )
    ap.add_argument(
        "--from-verdicts",
        help="pack the CURATED CORPUS directly: read kept docs' cleaned "
        "text (kept_text) out of this verdicts snapshot table — no "
        "second read of the raw corpus (job_curate emits the column)",
    )
    ap.add_argument(
        "--verdicts-since",
        type=int,
        default=None,
        help="--from-verdicts only: consume the verdicts INCREMENT "
        "appended after this committed ordinal (io/snapshot.py "
        "read_increment) — the curate->pack chain stops rescanning the "
        "accumulated verdicts table on every pack run; errors on "
        "rewritten lineage (post-recompute: run once without it)",
    )
    ap.add_argument("--window-tokens", type=int, default=512)
    ap.add_argument(
        "--n-tokens-col",
        help="column on the input docs holding precomputed (tokenizer-"
        "faithful) token counts; default counts whitespace tokens",
    )
    ap.add_argument(
        "--shards",
        type=int,
        help="after committing the manifest, deterministically shuffle "
        "ALL committed context windows into this many training shards "
        "(operators/chunking.py shard_shuffle) and write them to "
        "--shards-output partitioned by shard_id",
    )
    ap.add_argument(
        "--shards-output",
        help="parquet root for the sharded window assignment "
        "(required with --shards)",
    )
    args = ap.parse_args()
    if bool(args.shards) != bool(args.shards_output):
        raise SystemExit("--shards and --shards-output go together")
    if bool(args.input) == bool(args.from_verdicts):
        raise SystemExit("exactly one of --input / --from-verdicts required")
    if args.verdicts_since is not None and not args.from_verdicts:
        raise SystemExit("--verdicts-since requires --from-verdicts")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ocr-parallel-spark-pack").getOrCreate()

    from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable

    if args.from_verdicts:
        vt = SnapshotTable(args.from_verdicts)
        if args.verdicts_since is not None:
            verdicts = vt.read_increment(spark, args.verdicts_since)
            if verdicts is None:
                print(json.dumps({"ordinal": -1, "noop": True,
                                  "reason": "no verdicts appended since ordinal"}))
                spark.stop()
                return
        else:
            verdicts = vt.read(spark)
        if verdicts is None:
            raise SystemExit("--from-verdicts table is empty; run job_curate first")
        if "kept_text" not in verdicts.columns or "source" not in verdicts.columns:
            raise SystemExit(
                "--from-verdicts table predates the curated-corpus schema "
                "(no kept_text/source columns); re-run job_curate "
                "--recompute to materialize it"
            )
        # A kept row with NULL kept_text is a pre-upgrade commit read
        # through mergeSchema — packing it would inject a phantom
        # 1-token doc at a wrong offset. Refuse loudly instead.
        n_stale = verdicts.filter("kept AND kept_text IS NULL").count()
        if n_stale:
            raise SystemExit(
                f"--from-verdicts: {n_stale} kept rows have no kept_text "
                "(committed before the curated-corpus schema); run "
                "job_curate --recompute first"
            )
        pass_cols = [args.n_tokens_col] if args.n_tokens_col else []
        if args.n_tokens_col and args.n_tokens_col not in verdicts.columns:
            raise SystemExit(
                f"--n-tokens-col {args.n_tokens_col!r} not in the verdicts "
                "table (job_curate does not emit tokenizer counts; land "
                "them on the verdicts table with an upstream tokenizer "
                f"pass first). columns: {verdicts.columns}"
            )
        docs = verdicts.filter("kept").select(
            "doc_id", "source", verdicts["kept_text"].alias("text"), *pass_cols
        )
    else:
        docs = spark.read.parquet(args.input)
        if args.n_tokens_col and args.n_tokens_col not in docs.columns:
            raise SystemExit(
                f"--n-tokens-col {args.n_tokens_col!r} not in the input "
                f"docs table; columns: {docs.columns}"
            )
        if args.verdicts:
            verdicts = SnapshotTable(args.verdicts).read(spark)
            if verdicts is None:
                raise SystemExit("--verdicts table is empty; run job_curate first")
            docs = docs.join(
                verdicts.filter("kept").select("doc_id"), "doc_id", "semi"
            )
    table = SnapshotTable(args.output)
    base = committed_base_offsets(spark, table)
    snap = run_resumable(
        docs,
        table,
        spark,
        lambda todo: build_output(
            spark, todo, args.window_tokens, base, args.n_tokens_col
        ),
        key_col="doc_id",
        lineage={"input": args.input or args.from_verdicts,
                 "window_tokens": args.window_tokens},
    )
    if args.shards:
        write_shards(spark, table, args.shards, args.shards_output)
    print(json.dumps(snap))
    spark.stop()


if __name__ == "__main__":
    main()
