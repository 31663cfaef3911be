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
# The one session profile: every submitted job (scripts/submit.py prints it
# as ``--conf`` pairs), ``get_spark`` sessions (tests, oracle checks, plan
# dumps) and the benchmark run under exactly these runtime-settable
# ``spark.sql.*`` keys. Shuffle widths come from the data: with no
# ``spark.sql.shuffle.partitions`` set, AQE coalesces each 200-way shuffle
# down to about ``defaultParallelism`` tasks. Timings are the perfbench job
# walls on 4 cores: extract_heavy (job_extract over 1000 heavy pages) and
# full_process.
SESSION_CONFS = (
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
    # Rows per Arrow batch across every Python boundary (the kernel's
    # mapInArrow, the multimodal UDFs). A row count, not a byte bound: at
    # MB-scale CC pages one batch of 2048 html blobs is GB-sized.
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "2048"),
    # Arrow for toPandas and createDataFrame(pandas).
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    # Timestamps (warc_ts) render and truncate the same on every host.
    ("spark.sql.session.timeZone", "UTC"),
)

# Salt fan-out for pathologically hot domains (north_rule skew handling).
DOMAIN_SALT_BUCKETS = 16
