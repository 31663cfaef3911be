"""The full-process batch job (spark-submit entrypoint) — SURVEY §3.3.

The reference's POST /full-process is an async background job over whole
documents: OCR every page, chunk with overlap, localize each target,
refine page spans, extract, poll for completion
(/root/reference/app/api/endpoints/full_process.py:60-152 +
services/full_process_orchestrator.py). This job is the Spark-native
analog as ONE logical plan per run:

  pages table -> extraction pipeline (Arrow kernel, dedup)
    -> document framing: source = url domain, page_no = row_number
       within domain by (warc_ts, url)  [W5: partitioned, never global]
    -> tokenize + synonym variants (F2/F3) -> run_full_process: overlap
       chunking (W1), localization theta-join (J2), chunk members as the
       candidate pages (W2), boundary refinement with caps (F5-F9, W6)
    -> snapshot-committed output; completion = committed snapshot (X9),
       resume = anti-join against already-committed (target, source)
       pairs instead of the reference's file-existence poll.

    spark-submit --py-files ocr_parallel_spark.zip \
        scripts/job_full_process.py \
        --input /data/pages --targets targets.csv --output /data/results
"""

from __future__ import annotations

import argparse
import json

DEFAULT_CHUNK, DEFAULT_OVERLAP = 40, 5  # reference config.py:138-139


def build_output(spark, pages_df, targets_csv: str, chunk_size: int,
                 overlap: int, start_markers, end_after, end_before,
                 name_col: str = "inmueble", id_col: str = "folio",
                 committed=None):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocr_parallel_spark.full_process import run_full_process
    from ocr_parallel_spark.operators.localization import expand_variants, tokenize
    from ocr_parallel_spark.pipeline import run_extraction_pipeline
    from ocr_parallel_spark.sources.readers import read_targets_csv

    extracted = run_extraction_pipeline(pages_df, near_dups=False).filter(
        (F.col("status") == "found") & (~F.col("is_exact_dup"))
    )
    # Document framing: a "document" is a site (url domain); its page
    # order is crawl order. row_number is PARTITIONED by domain — W5's
    # single-reducer global sort never appears.
    # host stops at '/', '?' or '#' and the pattern needs no trailing
    # slash: path-less urls ("https://host", "https://host?p=1") must
    # yield their bare host, not '' or a host+query pseudo-domain
    domain = F.regexp_extract(F.col("url"), r"^https?://([^/?#]+)", 1)
    w = Window.partitionBy(domain).orderBy("warc_ts", "url")
    docs = extracted.select(
        domain.alias("source"),
        (F.row_number().over(w) - 1).cast("long").alias("doc_id"),
        F.col("text").alias("norm"),
    )

    targets = read_targets_csv(
        spark, targets_csv, name_col=name_col, id_col=id_col
    ).select(
        "target_id",
        expand_variants(tokenize("name")).alias("tokens"),
        F.upper(F.trim(F.col("ref"))).alias("anchor"),
    )
    refined = run_full_process(
        docs, targets, start_markers, end_after, end_before, chunk_size,
        overlap, committed,
    )
    return refined.withColumn(
        "job_key",
        F.concat_ws("#", F.col("target_id").cast("string"), F.col("source")),
    )


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet dir")
    ap.add_argument(
        "--targets",
        required=True,
        help="targets CSV; header columns per --name-col/--id-col "
        "(defaults: inmueble, folio)",
    )
    ap.add_argument("--name-col", default="inmueble")
    ap.add_argument("--id-col", default="folio")
    ap.add_argument("--output", required=True, help="snapshot table dir")
    ap.add_argument("--chunk-size", type=int, default=DEFAULT_CHUNK)
    ap.add_argument("--overlap", type=int, default=DEFAULT_OVERLAP)
    ap.add_argument(
        "--start-marker",
        action="append",
        default=None,
        help="boundary start marker (repeatable). REQUIRED in production: "
        "the defaults are synthetic-corpus literals that will never fire "
        "on real pages.",
    )
    ap.add_argument("--end-after-marker", action="append", default=None)
    ap.add_argument("--end-before-marker", action="append", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("ocr-parallel-spark-full-process").getOrCreate()

    from ocr_parallel_spark.io.snapshot import SnapshotTable, commit_counted
    from ocr_parallel_spark.queries_catalog import (
        BOUNDARY_END_AFTER,
        BOUNDARY_END_BEFORE,
        BOUNDARY_START_MARKERS,
    )

    pages = spark.read.parquet(args.input)
    table = SnapshotTable(args.output)
    # Resume at result granularity: (target, source) pairs already in the
    # committed snapshot are anti-joined out INSIDE run_full_process,
    # before boundary refinement, so committed pairs are genuinely not
    # recomputed (X9 without the file-existence poll race).
    out = build_output(
        spark,
        pages,
        args.targets,
        args.chunk_size,
        args.overlap,
        args.start_marker or BOUNDARY_START_MARKERS,
        args.end_after_marker or BOUNDARY_END_AFTER,
        args.end_before_marker or BOUNDARY_END_BEFORE,
        name_col=args.name_col,
        id_col=args.id_col,
        committed=table.read(spark),
    )
    snap = commit_counted(table, out, {"targets": args.targets})
    print(json.dumps(snap))
    spark.stop()
    return snap


if __name__ == "__main__":
    main()
