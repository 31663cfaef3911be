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
duplicate-url rows is far cheaper. Keep-first picks the same (url, min
warc_ts) winner in either order, because the kernel is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.config import MAX_PAYLOAD_BYTES
from ocr_parallel_spark.operators.classify import classify_status, filter_oversized
from ocr_parallel_spark.operators.dedup import keep_first, mark_exact_content_dups
from ocr_parallel_spark.operators.extraction import extract_pages
from ocr_parallel_spark.operators.neardup import simhash_near_reps


def run_extraction_pipeline(pages: DataFrame, near_dups: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) -> extraction results.

    Output: url, warc_ts, lang, status, error_type, text, n_blocks_total,
    n_blocks_kept, n_chars_in, n_chars_out, simhash, content_sha256,
    is_exact_dup, rep_url [, is_near_dup, near_rep].
    """
    capped = filter_oversized(pages, "html", MAX_PAYLOAD_BYTES)
    # Kernel directly on the scan partitions: html bytes never shuffle.
    extracted = extract_pages(capped, "html", ("url", "warc_ts", "lang"))
    # Keep-first by url: earliest crawl wins, deterministic at any
    # parallelism (D2 — NOT dropDuplicates).
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

