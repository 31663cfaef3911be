"""The flagship pipeline — SURVEY §3.1 re-expressed as one logical plan.

Reference lifecycle (ocr_service.process_pages_async,
/root/reference/app/services/ocr_service.py:324-535): dedup -> group by file
-> bounded per-page OCR fan-out -> map results back -> aggregate metrics.

Spark plan: scan -> size-cap filter (P5) -> mapInArrow kernel (X1/X2) on
the scan partitions -> keep-first url dedup (D2, earliest crawl wins) ->
sha-256 exact content dedup (D4) -> SimHash near-dup marking. Everything
except the single Arrow kernel stage is whole-stage-codegen built-ins. The
run's counters (A1/D3) are observed on the snapshot write that commits the
result (``io.snapshot.commit_counted``), not here.

Exchanges after the kernel: one by url (keep-first), one by content key
(exact dedup: ``row_number`` and ``first`` share it), then the near-dup
branch over the persisted result — one by band bucket and one by url, both
over (url, simhash) rows only. Its reps are left-joined onto the persisted
rows, which AQE plans as a broadcast: the full rows shuffle only twice.

Order rationale (vs the reference's dedup-before-work): the kernel runs
BEFORE the url-dedup shuffle, so the multi-MB html payloads never cross an
exchange — only the ~10x-smaller extracted rows shuffle. At a 10^12-row
table the payload shuffle would dominate the job; re-extracting the ~10%
duplicate-url rows is far cheaper. Results are identical because the
kernel is deterministic and keep-first picks the same (url, min warc_ts)
winner either way. Set ``dedup_before_extract=True`` to restore the
reference's order (useful when dup rates are extreme), or ``"auto"`` to
let the X8 chooser pick from a sampled dup-rate estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.config import MAX_PAYLOAD_BYTES
from ocr_parallel_spark.operators.classify import classify_status, filter_oversized
from ocr_parallel_spark.operators.dedup import keep_first, mark_exact_content_dups
from ocr_parallel_spark.operators.extraction import extract_pages, repartition_by_key
from ocr_parallel_spark.operators.neardup import simhash_near_reps

# X8 chooser: above this estimated duplicate-url rate, dropping dups
# BEFORE the kernel wins — re-extracting that many duplicate payloads
# costs more than shuffling the (deduped) payload bytes once. The
# reference's analog is its batch-size<200 model switch (config.py:36-43):
# a cheap, observable statistic choosing between two execution paths.
DEDUP_FIRST_THRESHOLD = 0.3


def estimate_dup_rate(
    pages: DataFrame,
    id_col: str = "url",
    key_mod: int = 20,
) -> float:
    """Cheap sampled duplicate-rate estimate over 1/key_mod of the KEY
    SPACE: a deterministic hash-bucket filter keeps ALL copies of the
    selected urls, so distinct/count is unbiased — a Bernoulli ROW sample
    would rarely co-sample two copies of the same url and systematically
    underestimate the rate. Column-pruned scan of the key only (payload
    bytes never read), map-side HyperLogLog distinct, one small job —
    the same shape as the 8-row centroid seed: a deliberate, bounded
    driver step, not a hot-path collect."""
    s = pages.select(id_col).filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(key_mod)) == 0
    )
    row = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(id_col).alias("d"),
    ).first()
    if not row or not row["n"]:
        return 0.0
    return max(0.0, 1.0 - row["d"] / row["n"])


def choose_dedup_before_extract(
    pages: DataFrame,
    id_col: str = "url",
    threshold: float = DEDUP_FIRST_THRESHOLD,
) -> bool:
    """X8 cost-based path selection (SURVEY §2.9): dedup-first when the
    sampled dup rate crosses the threshold. Results are identical either
    way (the kernel is deterministic and keep-first picks the same
    winner); only the plan shape changes — pytest pins both facts."""
    return estimate_dup_rate(pages, id_col) >= threshold


def run_extraction_pipeline(
    pages: DataFrame,
    max_bytes: int = MAX_PAYLOAD_BYTES,
    near_dups: bool = True,
    repartition: bool = False,
    dedup_before_extract: bool | str = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) -> extraction results.

    Output: url, warc_ts, lang, status, error_type, text, n_blocks_total,
    n_blocks_kept, n_chars_in, n_chars_out, simhash, content_sha256,
    is_exact_dup, rep_url [, is_near_dup, near_rep].
    """
    capped = filter_oversized(pages, "html", max_bytes)
    if dedup_before_extract == "auto":  # X8: stats-driven path choice
        dedup_before_extract = choose_dedup_before_extract(capped)
    # Keep-first by url: earliest crawl wins, deterministic at any
    # parallelism (D2 — NOT dropDuplicates).
    if dedup_before_extract:
        unique = keep_first(capped, ["url"], ["warc_ts"])
        if repartition:
            unique = repartition_by_key(unique, "url")
        extracted = extract_pages(unique, "html", ("url", "warc_ts", "lang"))
    else:
        # Kernel directly on the scan partitions: html bytes never shuffle.
        extracted = extract_pages(capped, "html", ("url", "warc_ts", "lang"))
        extracted = keep_first(extracted, ["url"], ["warc_ts"])
    extracted = extracted.withColumn(
        "status",
        F.when(F.col("status") == "error", F.lit("error")).otherwise(
            classify_status("text")
        ),
    )
    deduped = mark_exact_content_dups(extracted, "text", ["warc_ts", "url"])
    if near_dups:
        # The near-dup branch re-consumes `deduped` (diamond DAG): without
        # persistence Spark recomputes the whole kernel lineage for each
        # consumer. Persist the extracted table once — the at-scale analog
        # is committing extraction output to the results table and marking
        # dups against the committed snapshot (io.snapshot), never
        # re-extracting.
        from pyspark import StorageLevel

        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
        # Near-dup candidates only among exact-dedup survivors with real
        # text. Only their (url, simhash) rows feed the near-dup plan; the
        # small reps join straight onto the full rows (AQE broadcasts
        # them), so the wide rows never shuffle for near-dup work.
        survivors = deduped.filter(
            (~F.col("is_exact_dup")) & (F.col("status") == "found")
        ).select("url", "simhash")
        reps = simhash_near_reps(survivors, "simhash", "url")
        deduped = (
            deduped.join(reps, deduped["url"] == reps["_nd_id"], "left")
            .drop("_nd_id")
            .withColumn(
                "is_near_dup",
                F.coalesce(F.col("near_rep") != F.col("url"), F.lit(False)),
            )
        )
    return deduped


def pipeline_stats(result: DataFrame) -> DataFrame:
    """A1-style batch metrics over a pipeline result (ocr_service.py:442-519
    semantics: success/error counts, by-error-type counts, size totals)."""
    return result.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(F.col("status") == "found", 1)).alias("success_count"),
        F.count(F.when(F.col("status") == "error", 1)).alias("error_count"),
        F.count(F.when(F.col("status") == "not_found", 1)).alias("not_found_count"),
        F.count(F.when(F.col("is_exact_dup"), 1)).alias("exact_dup_count"),
        F.sum("n_chars_in").alias("total_bytes_in"),
        F.sum("n_chars_out").alias("total_chars_out"),
        F.avg("n_chars_out").alias("avg_chars_out"),
        F.min("n_chars_out").alias("min_chars_out"),
        F.max("n_chars_out").alias("max_chars_out"),
    )
