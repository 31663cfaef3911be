"""The one composition of the full-process chain (SURVEY §3.3, F9): chunk
(W1) -> localize (J2) -> chunk -> pages (W2) -> boundary refinement
(F5-F9, W6), called by ``q_full_process_boundaries`` and ``job_full_process``.

A matching chunk's candidate pages are its members, text included, so the
documents are scanned once and never joined back by (doc_id, source). That
equals the [start_doc_id, end_doc_id] range join since doc_id is unique
within a source (refinement's own precondition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ocr_parallel_spark.operators.boundaries import (
    page_matched,
    refine_pages_with_boundaries,
)
from ocr_parallel_spark.operators.chunking import overlap_chunks
from ocr_parallel_spark.operators.localization import localize, match_texts


def run_full_process(docs: DataFrame, targets: DataFrame, start_markers,
                     end_after, end_before, chunk_size: int, overlap: int,
                     committed: DataFrame | None = None) -> DataFrame:
    """``docs`` (source, doc_id, norm) and ``targets`` (target_id, tokens,
    anchor) in, ``refine_pages_with_boundaries``' rows out: one per
    (target_id, source) with a matching chunk. (target_id, source) pairs in
    ``committed`` are dropped right after localization, before refinement.
    A NULL source is no document (the pages join never matched it).

    The targets are joined once, in localization: each matching (chunk,
    target) row re-matches its member pages (refinement's stage 0) while
    it holds them and the target's tokens, so the exploded candidates are
    (doc_id, norm, matched) with the target's tokens and anchor."""
    chunks = overlap_chunks(
        docs.filter("source IS NOT NULL"), "source", "doc_id", "norm",
        chunk_size, overlap, member_cols=match_texts("norm", "_pg_"),
    )
    loc = localize(targets.select("target_id", "tokens", "anchor"), chunks)
    if committed is not None:
        done = committed.select("target_id", "source").distinct()
        loc = loc.join(done, ["target_id", "source"], "left_anti")
    matched = page_matched("tokens", "m._pg_upper", "m._pg_wordified")
    cand = loc.selectExpr(
        "target_id", "source", "tokens", "anchor",
        "inline(transform(members, m -> named_struct("
        f"'doc_id', m.doc_id, 'norm', m.norm, 'matched', {matched})))",
    )
    return refine_pages_with_boundaries(
        cand, None, None, start_markers, end_after, end_before
    )
