"""The batched extraction operator — the engine's only Python hot-path.

Spark re-expression of the reference's per-page OCR fan-out (SURVEY §3.1:
group-by-file -> semaphore-bounded gather -> per-page Gemini call,
/root/reference/app/services/ocr_service.py:324-535). Here the whole fan-out
is one ``mapInArrow`` over the pages DataFrame: the JVM streams Arrow
batches of (url, html) into a single Python worker call per batch, the
pure-Python kernel extracts each document, and one Arrow batch comes back.
No per-row Python, no driver-side loops; parallelism is partitions x cores
instead of an asyncio semaphore (X4), and task retries replace the
retry/backoff ladder (X6) because the kernel is deterministic.

SimHash is computed inside the same pass (one JVM<->Python crossing);
sha-256 content hashes stay JVM-side (``F.sha2``) in the pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_parallel_spark.config import DOMAIN_SALT_BUCKETS
from ocr_parallel_spark.kernel.extract import extract_payload

# Arrow-side schema of the extraction result columns.
_RESULT_FIELDS = [
    ("status", pa.string()),
    ("error_type", pa.string()),
    ("text", pa.string()),
    ("spans", pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32())]))),
    ("n_blocks_total", pa.int32()),
    ("n_blocks_kept", pa.int32()),
    ("n_chars_in", pa.int64()),
    ("n_chars_out", pa.int64()),
    ("simhash", pa.int64()),
]

_RESULT_DDL = (
    "status string, error_type string, text string, "
    "spans array<struct<start:int,end:int>>, "
    "n_blocks_total int, n_blocks_kept int, "
    "n_chars_in bigint, n_chars_out bigint, simhash bigint"
)


def _to_signed64(v: int) -> int:
    """uint64 simhash -> two's-complement int64 for Spark LongType."""
    return v - (1 << 64) if v >= (1 << 63) else v


def extract_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url", "warc_ts", "lang"),
    with_simhash: bool = True,
) -> DataFrame:
    """Run the extraction kernel over every row's payload column.

    Returns ``passthrough`` columns plus the extraction result columns; the
    multi-MB payload column is NOT echoed back across the Arrow boundary.
    """
    in_df = df.select(*passthrough, payload_col)
    pass_schema = in_df.drop(payload_col).schema
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pass_schema.fields
    )
    full_ddl = out_ddl + ", " + _RESULT_DDL

    n_pass = len(pass_schema.fields)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            payloads = batch.column(n_pass).to_pylist()
            cols = {name: [] for name, _ in _RESULT_FIELDS}
            for payload in payloads:
                rec = extract_payload(payload, with_simhash=with_simhash)
                cols["status"].append(rec["status"])
                cols["error_type"].append(rec["error_type"])
                cols["text"].append(rec["text"])
                cols["spans"].append(
                    [{"start": s, "end": e} for s, e in rec["spans"]]
                )
                cols["n_blocks_total"].append(rec["n_blocks_total"])
                cols["n_blocks_kept"].append(rec["n_blocks_kept"])
                cols["n_chars_in"].append(rec["n_chars_in"])
                cols["n_chars_out"].append(rec["n_chars_out"])
                cols["simhash"].append(_to_signed64(rec["simhash"]))
            arrays = [batch.column(i) for i in range(n_pass)]
            arrays += [
                pa.array(cols[name], type=typ) for name, typ in _RESULT_FIELDS
            ]
            names = [f.name for f in pass_schema.fields] + [
                name for name, _ in _RESULT_FIELDS
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return in_df.mapInArrow(kernel, schema=full_ddl)


def salted_key(
    group_col: str = "domain",
    fine_col: str = "url",
    salt_buckets: int = DOMAIN_SALT_BUCKETS,
):
    """Salted grouping key for per-domain aggregations over skewed hosts
    (north_rule): aggregate by (domain, salt-of-url) first, then re-aggregate
    by domain — splits a pathological domain across ``salt_buckets``
    reducers. Salt is a deterministic hash of the fine key, so results are
    stable across runs and parallelism levels.
    """
    return F.concat_ws(
        "#",
        F.col(group_col),
        F.pmod(F.abs(F.hash(F.col(fine_col), F.lit(42))), F.lit(salt_buckets)).cast(
            "string"
        ),
    )
