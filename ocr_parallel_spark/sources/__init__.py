"""Input connectors: extraction-target CSV and WARC/WET archives."""

from ocr_parallel_spark.sources.readers import read_targets_csv  # noqa: F401
from ocr_parallel_spark.sources.warc import (  # noqa: F401
    read_warc,
    warc_docs,
    warc_pages,
)
