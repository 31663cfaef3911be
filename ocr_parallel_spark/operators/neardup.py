"""Near-duplicate marking: SimHash banding and MinHash LSH.

D4's near-dup half (SURVEY §2.4). Both hashes generate candidates with one
bucket-local band pass (``_band_pairs``): band rows are sized with a count
window on (band_idx, band value), buckets wider than ``MAX_BAND_BUCKET``
are dropped, each bucket's members are collected with ``collect_list`` on
the same keys (reusing the window's exchange), and each member filters its
bucket for partners. No join.

- SimHash: the kernel already emits a 64-bit SimHash per document (one
  Python crossing, shared with extraction). Bands come from bit ops, a
  partner is a different id within Hamming ``hamming_threshold``
  (``bit_count(xor)``), and each doc's representative is the minimum id
  among its verified neighbours — one more exchange, on the doc id. Only
  (id, simhash) rows shuffle; callers join the small reps back onto their
  full rows.
- MinHash: ``with_minhash_sigs`` computes the 64-slot signature and its 16
  LSH band hashes in one Arrow-batched pass; ``pairs_from_banded`` returns
  the distinct (id_a < id_b) pairs sharing a band bucket for the caller to
  verify (exact Jaccard, or signature agreement in
  ``signature_near_dup_marks``).

Scale notes: run AFTER exact dedup so identical texts (the worst band skew)
are already collapsed; the bucket cap bounds per-bucket pair work by its
square, and a hot bucket spills in the window buffer rather than skewing a
join. SimHash's min-representative labeling is one hop — the standard LSH
approximation; cluster closure is ``connected_components``' job (see
``minhash_clusters``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_parallel_spark.kernel.simhash import minhash_bands, minhash_signature

N_BANDS = 4
BAND_BITS = 64 // N_BANDS
HAMMING_THRESHOLD = 3

# A band bucket holding more than this many docs is degenerate (boilerplate
# or adversarial near-constant content): pairing its members is quadratic
# for no recall gain — every member still has its other bands' chances.
# Production LSH dedup caps bucket width for exactly this reason; the cap
# keeps candidate generation linear in practice and is deterministic.
MAX_BAND_BUCKET = 256


def _band_pairs(
    bands: DataFrame, band_col: str, max_bucket: int, partner
) -> DataFrame:
    """The one bucket-local band pass: (``_nd_me``, ``_nd_o``) for every
    ordered pair of ``_nd_doc`` values of band rows (``_nd_doc``,
    ``band_idx``, ``band_col``) that share a bucket of at most
    ``max_bucket`` rows (0 = uncapped) and satisfy ``partner(me, o)``.

    One exchange on (band_idx, ``band_col``) serves both the bucket-size
    window and the member collection; the pairs are the same multiset a
    capped band self-join yields, with no join."""
    keys = ["band_idx", band_col]
    if max_bucket:
        bucket = Window.partitionBy(*keys)
        bands = (
            bands.withColumn("_nd_bucket_n", F.count(F.lit(1)).over(bucket))
            .filter(F.col("_nd_bucket_n") <= max_bucket)
            .drop("_nd_bucket_n")
        )
    # Same keys as the bucket window: the aggregate reuses its exchange.
    members = bands.groupBy(*keys).agg(
        F.collect_list("_nd_doc").alias("_nd_members")
    )
    me = F.col("_nd_me")
    return members.select(
        F.explode("_nd_members").alias("_nd_me"), "_nd_members"
    ).select(
        me,
        F.explode(F.filter("_nd_members", lambda o: partner(me, o))).alias(
            "_nd_o"
        ),
    )


def mark_simhash_near_dups(
    df: DataFrame,
    simhash_col: str = "simhash",
    id_col: str = "url",
    hamming_threshold: int = HAMMING_THRESHOLD,
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Add ``is_near_dup`` + ``near_rep`` columns.

    Candidates = pairs sharing any of the 4 16-bit bands (guaranteed to
    include all pairs within Hamming distance 3); verified with
    ``bit_count(a^b) <= threshold``; each verified doc maps to the minimum
    id in its candidate neighborhood, and ``is_near_dup`` is true when that
    representative is a different, earlier doc. Docs without a verified
    neighbour get a NULL ``near_rep``. Labels are one hop: a chain A~B~C
    labels C with B while A keeps itself.
    """
    reps = simhash_near_reps(
        df, simhash_col, id_col, hamming_threshold, max_bucket
    )
    out = df.join(reps, df[id_col] == reps["_nd_id"], "left").drop("_nd_id")
    return out.withColumn(
        "is_near_dup",
        F.coalesce(F.col("near_rep") != F.col(id_col), F.lit(False)),
    )


def simhash_near_reps(
    df: DataFrame,
    simhash_col: str = "simhash",
    id_col: str = "url",
    hamming_threshold: int = HAMMING_THRESHOLD,
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """(``_nd_id``, ``near_rep``) for every doc of ``df`` that has a
    verified neighbour; semantics as in :func:`mark_simhash_near_dups`.

    Reads only (id, simhash) — callers join the result back onto their
    full rows, so wide rows never shuffle for near-dup work. Verification
    is the bucket-local band pass: each member filters its bucket for
    partners within ``hamming_threshold``.
    """
    ids = df.select(id_col, simhash_col).filter(F.col(simhash_col) != 0)
    # One pass over the input: posexplode the band array (a 4-way union
    # would scan the upstream table once per band).
    band_exprs = [
        F.shiftrightunsigned(F.col(simhash_col), i * BAND_BITS)
        .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
        for i in range(N_BANDS)
    ]
    bands = ids.select(
        F.struct(
            F.col(id_col).alias("id"), F.col(simhash_col).alias("h")
        ).alias("_nd_doc"),
        F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_val"),
    )
    pairs = _band_pairs(
        bands,
        "band_val",
        max_bucket,
        lambda me, o: (o["id"] != me["id"])
        & (F.bit_count(o["h"].bitwiseXOR(me["h"])) <= hamming_threshold),
    ).select(
        F.col("_nd_me.id").alias("_nd_id"), F.col("_nd_o.id").alias("_nd_other")
    )
    reps = pairs.groupBy("_nd_id").agg(F.min("_nd_other").alias("_nd_min_other"))
    return reps.select(
        F.col("_nd_id"),
        F.least(F.col("_nd_id"), F.col("_nd_min_other")).alias("near_rep"),
    )


# ---- MinHash LSH (shingle Jaccard) ------------------------------------------

LSH_BANDS = 16


def _signed(vals: list[int]) -> list[int]:
    """Unsigned 64-bit values as Spark bigints (two's complement)."""
    return [v - (1 << 64) if v >= (1 << 63) else v for v in vals]


def with_minhash_sigs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig array<bigint>[64], bands array<bigint>[16]) in ONE
    Arrow-batched pass — the signature is computed once and reused for
    banding and estimate-verification. The id keeps its input type."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, sig array<bigint>, bands array<bigint>"

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs, bands = [], []
            for t in pdf[text_col]:
                s = minhash_signature(t or "")
                sigs.append(_signed(s))
                bands.append(_signed(minhash_bands(s, LSH_BANDS)))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": sigs, "bands": bands}
            )

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def pairs_from_banded(
    banded: DataFrame,
    id_col: str = "url",
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Distinct candidate pairs (``id_a`` < ``id_b``) of an (``id_col``,
    ``bands``) frame — :func:`with_minhash_sigs` output, or band
    signatures a caller persisted: ids sharing a (band position, bucket
    hash) bucket of at most ``max_bucket`` rows, by the bucket-local band
    pass."""
    bands = banded.select(
        F.col(id_col).alias("_nd_doc"),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    return (
        _band_pairs(bands, "band_hash", max_bucket, lambda me, o: me < o)
        .select(F.col("_nd_me").alias("id_a"), F.col("_nd_o").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH: distinct id pairs
    (a < b) sharing a band bucket, for downstream exact-Jaccard
    verification. Buckets wider than ``max_bucket`` are skipped
    (degenerate content; see MAX_BAND_BUCKET)."""
    return pairs_from_banded(
        with_minhash_sigs(df, text_col, id_col), id_col, max_bucket
    )


# ---------------------------------------------- signature-estimate dedup --
#
# MinHash-ESTIMATE verification: instead of re-reading both texts for an
# exact Jaccard, estimate it as the fraction of agreeing signature
# components (the textbook unbiased MinHash estimator, E[agree/n_perm] =
# J). Verification then joins 512-byte signatures, never document text,
# so its shuffle is bounded by the signature width whatever the document
# size; the minhash_estimate_recall catalog query gates its recall
# against the exact word-trigram Jaccard. est_num/est_den give the
# agreement threshold as an integer fraction (1/2 = estimated J >= 0.5)
# so the comparison is exact in both engines.

MINHASH_PERMS = 64


def signature_near_dup_marks(
    sigs: DataFrame,
    id_col: str = "doc_id",
    est_num: int = 1,
    est_den: int = 2,
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Arrival-order near-dup marks from (id, sig, bands) rows: a doc is
    a near-dup of the MINIMUM earlier id that shares >= 1 LSH band with
    signature agreement >= est_num/est_den. Returns (id, near_rep,
    is_near_dup). Candidates come from :func:`pairs_from_banded`'s
    bucket-local band pass (one definition of the bucket cap for every
    caller); verification compares the two 64-slot signatures with
    zip_with (JVM-side, no Python)."""
    cands = pairs_from_banded(sigs, id_col, max_bucket)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
            lambda b: b,
        )
    )
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(agree * est_den >= MINHASH_PERMS * est_num)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("near_rep"))
    )
    return (
        sigs.select(id_col)
        .join(verified.withColumnRenamed("id_b", id_col), id_col, "left")
        .select(
            id_col,
            "near_rep",
            F.col("near_rep").isNotNull().alias("is_near_dup"),
        )
    )
