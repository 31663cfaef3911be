"""Multimodal (image/audio/video) column plumbing for the training toolkit.

Media are opaque ``binary`` columns with typed metadata, processed by
Arrow-batched pandas UDFs over ``mapInPandas`` — the same hot-path
discipline as the text kernel (no per-row Python). The actual pixel/sample
decode would need image/audio libraries that are not in this container, so
the decode boundary is explicit:

- ``decode_media_meta`` computes *deterministic* metadata from the raw
  bytes (size-derived width/height/duration). The arithmetic is fake, the
  plumbing — schema, Arrow batch shape, UDF signature, partitioning — is
  real and oracle-checked.
- ``byte_histogram_features`` is a real computation (numpy 16-bin byte
  histogram, emitted as long-format scalar rows with exact counts and an
  L1 weight): the stand-in for an embedding/feature extractor with the
  exact batch shape a real one would have.
- ``frame_sample_plan`` / ``audio_chunk_plan`` are pure column expressions
  (1 row -> N frame/chunk rows via ``explode(sequence(...))``) — JVM-side.

At 10^12 scale the media table is Iceberg-partitioned like the pages table
(bucket by media_id); batch memory is set by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (2048 rows in
``config.SESSION_CONFS``, as for html). That is a row count, not a byte
bound: with MB payloads one batch is GB-sized.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_parallel_spark.sources.readers import DOCUMENTS_SCHEMA

# Deterministic fake-decode constants (size-derived pseudo-metadata).
_W_MOD, _W_BASE = 577, 64
_H_MOD, _H_BASE = 331, 48
_AUDIO_BYTES_PER_SEC = 5000  # n/5000 is exact at 4 decimals (cross-engine round safety)
_VIDEO_BYTES_PER_FRAME = 1024

KINDS = ["image", "audio", "video"]


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table from the driver's documents parquet:
    (media_id, kind, payload binary). Pure built-in expressions."""
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(*[F.lit(k) for k in KINDS]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def decode_media_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Arrow-batched metadata extraction: one pandas call per batch.

    Output: id, kind, n_bytes, width, height, duration_s (deterministic
    size-derived stand-ins for real codec metadata; the oracle recomputes
    the same arithmetic in SQL to pin the plumbing).
    """
    schema = (
        f"{id_col} bigint, kind string, n_bytes bigint, "
        "width int, height int, duration_s double"
    )

    def meta(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = pdf[payload_col].map(len).astype("int64")
            kind = pdf["kind"]
            width = (_W_BASE + n % _W_MOD).astype("int32")
            height = (_H_BASE + n % _H_MOD).astype("int32")
            dur = pd.Series(np.zeros(len(pdf)), index=pdf.index)
            dur = dur.mask(kind == "audio", n / _AUDIO_BYTES_PER_SEC)
            dur = dur.mask(kind == "video", n // _VIDEO_BYTES_PER_FRAME / 24.0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "kind": kind,
                    "n_bytes": n,
                    "width": width.where(kind == "image", 0),
                    "height": height.where(kind == "image", 0),
                    "duration_s": dur.round(4),
                }
            )

    return df.select(id_col, "kind", payload_col).mapInPandas(meta, schema=schema)


def byte_histogram_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id", bins: int = 16
) -> DataFrame:
    """Feature extraction stand-in: byte histogram per blob over the high
    nibble (real numpy work with the exact batch shape of an embedding
    extractor). Output is LONG format — one scalar row per (id, bin):
    ``(id, bin int, n bigint, weight double)`` with all ``bins`` rows
    present per id (zeros included) and ``weight = n / total`` as a plain
    IEEE double division of two exact integers, so a SQL engine recomputes
    it bit-identically (no round-half-rule exposure). Long format keeps
    every column hashable/sortable for exact cross-engine comparison; a
    vector consumer regroups with ``collect_list`` over ``bin`` order."""
    schema = f"{id_col} bigint, bin int, n bigint, weight double"

    def feats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = np.repeat(pdf[id_col].to_numpy(), bins)
            bin_idx = np.tile(np.arange(bins, dtype="int32"), len(pdf))
            counts = np.empty(len(pdf) * bins, dtype="int64")
            for i, b in enumerate(pdf[payload_col]):
                # empty/NULL payload -> all-zero histogram (no fabricated
                # byte; the SQL oracle emits the same zero rows)
                arr = np.frombuffer(b or b"", dtype=np.uint8)
                counts[i * bins : (i + 1) * bins] = np.bincount(
                    arr >> 4, minlength=bins
                )
            totals = counts.reshape(-1, bins).sum(axis=1)
            weight = counts / np.maximum(np.repeat(totals, bins), 1)
            yield pd.DataFrame(
                {id_col: ids, "bin": bin_idx, "n": counts, "weight": weight}
            )

    return df.select(id_col, payload_col).mapInPandas(feats, schema=schema)


def resize_plan(
    meta: DataFrame, id_col: str = "media_id", max_side: int = 256
) -> DataFrame:
    """Image resize planning: target dims that fit ``max_side`` preserving
    aspect ratio. Integer arithmetic only (w*max_side // longest) so the
    result is bit-identical across engines — the SQL oracle recomputes it.
    The pixel work itself needs an image codec library, which the
    package does not ship."""
    longest = F.greatest("width", "height")
    need = longest > max_side
    # floor(int*int/int) is bit-identical across engines (exact operands,
    # correctly-rounded IEEE division) — never CAST a double, whose
    # int-conversion truncates in Spark but rounds in DuckDB.
    new_w = F.when(
        need, F.floor(F.col("width") * max_side / longest).cast("int")
    ).otherwise(F.col("width"))
    new_h = F.when(
        need, F.floor(F.col("height") * max_side / longest).cast("int")
    ).otherwise(F.col("height"))
    return meta.filter(F.col("kind") == "image").select(
        id_col,
        "width",
        "height",
        new_w.alias("new_width"),
        new_h.alias("new_height"),
    )


def frame_sample_plan(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 24,
) -> DataFrame:
    """Video frame sampling as a 1->N plan: frame count derives from blob
    size, sampled every ``every_n`` frames. Pure JVM expressions
    (explode(sequence)); the per-frame decode would attach downstream."""
    n_frames = (F.octet_length(F.col(payload_col)) / _VIDEO_BYTES_PER_FRAME).cast(
        "bigint"
    )
    return (
        df.filter(F.col("kind") == "video")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(n_frames - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_idx"),
        )
        .withColumn("byte_offset", F.col("frame_idx") * _VIDEO_BYTES_PER_FRAME)
    )


def audio_chunk_plan(
    meta: DataFrame, id_col: str = "media_id", chunk_s: float = 5.0, overlap_s: float = 1.0
) -> DataFrame:
    """Overlapping audio chunk plan over decoded durations (W1's overlap
    semantics applied to time): chunk k covers [k*step, k*step+chunk_s)."""
    step = chunk_s - overlap_s
    n_chunks = F.ceil(
        F.greatest(F.col("duration_s") - F.lit(overlap_s), F.lit(0.0)) / F.lit(step)
    ).cast("bigint")
    return (
        meta.filter(F.col("kind") == "audio")
        .filter(F.col("duration_s") > 0)
        .select(
            F.col(id_col),
            "duration_s",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
            ).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.round(F.col("chunk_idx") * step, 4).alias("start_s"),
            F.round(
                F.least(
                    F.col("chunk_idx") * step + chunk_s, F.col("duration_s")
                ),
                4,
            ).alias("end_s"),
        )
    )
