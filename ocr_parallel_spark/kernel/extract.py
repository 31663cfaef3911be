"""Kernel dispatch: one payload in, one extraction record out.

Error-as-data semantics mirror the reference (X7, SURVEY §2.9;
/root/reference/app/services/ocr_service.py:163-205): every per-document
failure becomes a status/error_type on the output row — the batch never
fails. Error taxonomy generalizes the reference's
``{GCS, PDF, Gemini, Unknown}`` to ``ERROR_TYPES``.

This module is pure Python; the Spark boundary lives in
``ocr_parallel_spark.operators.extraction`` (mapInArrow) which calls
``extract_payload`` once per document inside an Arrow batch loop.
"""

from __future__ import annotations

from ocr_parallel_spark.kernel.html_extract import extract_html
from ocr_parallel_spark.kernel.pdf_layout import extract_pdf, is_pdf_payload
from ocr_parallel_spark.kernel.simhash import simhash64

STATUS_FOUND = "found"
STATUS_ERROR = "error"
# Every status='error' row carries exactly one of these error_type values.
ERROR_TYPES = ("EMPTY", "DECODE", "PARSE", "PDF")


def extract_payload(payload: bytes | None, with_simhash: bool = True) -> dict:
    """Extract main content from one raw payload (HTML bytes or layout
    payload). Never raises: failures come back as status='error' rows.

    Returns keys: status, error_type, text, spans, n_blocks_total,
    n_blocks_kept, n_chars_in, n_chars_out, simhash.
    """
    rec = {
        "status": STATUS_ERROR,
        "error_type": None,
        "text": None,
        "spans": [],
        "n_blocks_total": 0,
        "n_blocks_kept": 0,
        "n_chars_in": len(payload) if payload else 0,
        "n_chars_out": 0,
        "simhash": 0,
    }
    if not payload:
        rec["error_type"] = "EMPTY"
        return rec
    try:
        if is_pdf_payload(payload):
            try:
                result = extract_pdf(payload)
            except NotImplementedError:
                rec["error_type"] = "PDF"
                return rec
            except Exception:
                rec["error_type"] = "PDF"
                return rec
        else:
            if b"\x00" in payload:
                # NUL bytes mark binary junk mislabeled as HTML.
                rec["error_type"] = "DECODE"
                return rec
            try:
                html = payload.decode("utf-8")
            except UnicodeDecodeError:
                rec["error_type"] = "DECODE"
                return rec
            result = extract_html(html)
    except Exception:
        rec["error_type"] = "PARSE"
        return rec

    rec.update(
        status=STATUS_FOUND,
        error_type=None,
        text=result["text"],
        spans=result["spans"],
        n_blocks_total=result["n_blocks_total"],
        n_blocks_kept=result["n_blocks_kept"],
        n_chars_out=len(result["text"]),
    )
    if with_simhash:
        rec["simhash"] = simhash64(result["text"])
    return rec
