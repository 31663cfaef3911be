"""Pure-Python, Spark-free extraction kernel.

The only code in the engine allowed to touch payload bytes. Everything here
is deterministic (stdlib + numpy only, fixed seeds, NFC text) so Spark task
retries are pure re-execution — see SURVEY §7.1 layer (1).
"""

from ocr_parallel_spark.kernel.extract import extract_payload  # noqa: F401
from ocr_parallel_spark.kernel.html_extract import extract_html  # noqa: F401
from ocr_parallel_spark.kernel.normalize import clean_text  # noqa: F401
from ocr_parallel_spark.kernel.pdf_layout import extract_pdf  # noqa: F401
from ocr_parallel_spark.kernel.simhash import (  # noqa: F401
    minhash_bands,
    minhash_signature,
    simhash64,
)
