"""Engine constants.

Semantics constants mirror the reference configuration
(/root/reference/app/config.py:137-139, app/utils/text_localization.py:203,
:580-586, :634-640, :685-699, :424-427); execution constants are Spark-native
choices sized for a many-executor cluster reading web-scale tables.
"""

from __future__ import annotations

# ---- semantics (reference parity) -------------------------------------------
# Overlap chunking (reference app/config.py:138-139, app/utils/chunking.py:11-33)
CHUNK_SIZE = 40
CHUNK_OVERLAP = 5

# Token-coverage localization threshold (reference app/utils/text_localization.py:203)
MATCH_THRESHOLD = 0.6

# Refinement caps (reference app/utils/text_localization.py:580-586,634-640,685-699)
MAX_FALLBACK_PAGES = 5
MAX_PAGES_WITH_BOUNDARIES = 15
MAX_PAGES_WITHOUT_BOUNDARIES = 20
MAX_SEARCH_LENGTH = 3000
DENSE_RANGE_GAP = 3  # sessionization gap (reference text_localization.py:659)

# Ingestion cap: 50 MB request body (reference app/config.py:156, app/main.py:42-74)
MAX_PAYLOAD_BYTES = 50 * 1024 * 1024

# ---- kernel (extraction heuristics) -----------------------------------------
# Block-scoring knobs for the HTML boilerplate stripper. A block survives when
# it has enough text and is not link-dominated (readability/trafilatura-style).
MIN_BLOCK_CHARS = 25
MIN_HEADING_CHARS = 8
MAX_LINK_DENSITY = 0.35

# Synthetic layout-payload magic prefix (stands in for the PDF path; the real
# decoder would be gated behind an import-try of a PDF library).
PDF_MAGIC = b"%FAKEPDF"

# ---- execution (Spark-native) -----------------------------------------------
# html payloads are MB-scale at Common-Crawl; keep Arrow batches small so one
# batch of blobs fits comfortably in executor memory.
ARROW_MAX_RECORDS_PER_BATCH = 256

# Salt fan-out for pathologically hot domains (north_rule skew handling).
DOMAIN_SALT_BUCKETS = 16

# Shuffle partitions of ``get_spark`` sessions (tests, notebooks). Submitted
# jobs leave spark.sql.shuffle.partitions unset and let AQE coalesce each
# shuffle to the data (scripts/submit.py JOB_CONFS).
DEFAULT_SHUFFLE_PARTITIONS = 32
