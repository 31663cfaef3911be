"""Source readers (SURVEY §2.1).

- ``DOCUMENTS_SCHEMA`` / ``EMBEDDINGS_SCHEMA``: the catalog's sf tables,
  read with their known schemas (never inferred).
- ``read_targets_csv`` (S6): extraction targets from CSV with sniffed
  delimiter and case-insensitive headers, empty rows dropped (P3) —
  the semantics of the reference's loader
  (/root/reference/scripts/test_full_process.py:39-112) without the
  driver-side csv module: sniffing reads one line, parsing is a Spark csv
  scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The catalog's two sf tables, read with their known schemas: inferring a
# parquet schema reads file footers in a Spark job at DataFrame build time.
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

_SNIFF_DELIMS = [",", ";", "\t", "|"]


def sniff_delimiter(spark: SparkSession, path: str) -> str:
    """Pick the delimiter that splits the header line into the most
    fields (the csv.Sniffer essence, one line of IO)."""
    header = spark.read.text(path).limit(1).collect()
    if not header:
        return ","
    line = header[0][0]
    return max(_SNIFF_DELIMS, key=lambda d: line.count(d))


def read_targets_csv(
    spark: SparkSession,
    path: str,
    name_col: str = "inmueble",
    id_col: str = "folio",
) -> DataFrame:
    """S6: load extraction targets. Case-insensitive header match, rows
    with an empty name or id dropped (P3). Output: (target_id, name, ref)
    with a deterministic target_id from the row content."""
    delim = sniff_delimiter(spark, path)
    raw = (
        spark.read.option("header", True)
        .option("sep", delim)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    lower = {c.lower().strip(): c for c in raw.columns}
    for want in (name_col, id_col):
        # requested names are normalized the same way as the headers —
        # the match is case-insensitive on BOTH sides
        if want.lower().strip() not in lower:
            raise ValueError(
                f"required column '{want}' not found (have {raw.columns})"
            )
    out = raw.select(
        F.trim(F.col(lower[name_col.lower().strip()])).alias("name"),
        F.trim(F.col(lower[id_col.lower().strip()])).alias("ref"),
    ).filter((F.col("name") != "") & (F.col("ref") != ""))
    return out.select(
        F.abs(F.hash("name", "ref")).alias("target_id"), "name", "ref"
    )
