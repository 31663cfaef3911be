"""End-to-end pipeline tests over the synthesized pages table.

SURVEY §5 items 3-5: golden equality (byte-identical extracted text per
url), error-as-data, dedup marking, and determinism across parallelism.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_parallel_spark.pages import synthesize_pages
from ocr_parallel_spark.pipeline import run_extraction_pipeline


def _result(spark, sf_dir):
    pages = synthesize_pages(spark, sf_dir, with_expected=True)
    expected = pages.select("url", "warc_ts", "doc_id", "expected_text")
    result = run_extraction_pipeline(pages.drop("expected_text", "doc_id"))
    return pages, expected, result


def test_byte_identical_per_url(spark, sf_dir):
    """THE invariant: extracted text == expected text for every kept url."""
    pages, expected, result = _result(spark, sf_dir)
    # keep-first by url: compare against the expected text of the earliest
    # crawl per url.
    first_expected = (
        expected.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("url").orderBy("warc_ts")),
        )
        .filter(F.col("rn") == 1)
        .select("url", "expected_text")
    )
    joined = result.join(first_expected, "url", "inner")
    mismatches = joined.filter(
        (F.col("status") == "found")
        & (
            F.col("text").isNull()
            | (F.col("text") != F.col("expected_text"))
        )
    )
    bad = mismatches.select("url", "text", "expected_text").limit(5).collect()
    assert not bad, f"text mismatch for {bad}"
    # error rows have NULL text and an error_type
    errs = joined.filter(F.col("status") == "error")
    assert errs.filter(F.col("text").isNotNull()).count() == 0
    assert errs.filter(F.col("error_type").isNull()).count() == 0


def test_keep_first_dedup_unique_urls(spark, sf_dir):
    pages, _, result = _result(spark, sf_dir)
    n_unique_urls = pages.select("url").distinct().count()
    assert result.count() == n_unique_urls
    assert result.select("url").distinct().count() == n_unique_urls
    # synthesis guarantees ~10% url dups at sf0.001 (doc_id % 10 == 9)
    assert pages.count() > n_unique_urls


def test_exact_content_dups_marked(spark, sf_dir):
    _, _, result = _result(spark, sf_dir)
    dups = result.filter(F.col("is_exact_dup"))
    assert dups.count() > 0
    # every dup's representative has identical text
    rep = result.select(
        F.col("url").alias("rep_url"), F.col("text").alias("rep_text")
    )
    joined = dups.join(rep, "rep_url", "inner")
    assert joined.filter(F.col("text") != F.col("rep_text")).count() == 0
    # representatives are never themselves marked dup
    assert (
        result.filter((F.col("url") == F.col("rep_url")) & F.col("is_exact_dup"))
        .count()
        == 0
    )


def test_near_dups_marked(spark, sf_dir):
    _, _, result = _result(spark, sf_dir)
    # synthesis plants near-dups (doc_id % 25 == 21): small drift off the
    # previous doc's text
    assert result.filter(F.col("is_near_dup")).count() > 0


def test_error_rows_never_fail_job(spark, sf_dir):
    _, _, result = _result(spark, sf_dir)
    errors = result.filter(F.col("status") == "error")
    n = errors.count()
    assert n > 0  # synthesis plants malformed payloads
    types = {r["error_type"] for r in errors.select("error_type").distinct().collect()}
    assert types <= {"EMPTY", "DECODE", "PARSE", "PDF", "UNKNOWN"}


def test_determinism_across_parallelism(spark, sf_dir):
    """Same input, different partitioning => byte-identical result set."""
    pages = synthesize_pages(spark, sf_dir).drop("doc_id")
    r1 = run_extraction_pipeline(pages.repartition(2), near_dups=False)
    r2 = run_extraction_pipeline(pages.repartition(17), near_dups=False)
    cols = ["url", "status", "text", "content_sha256", "is_exact_dup"]
    a = sorted(map(tuple, r1.select(*cols).collect()))
    b = sorted(map(tuple, r2.select(*cols).collect()))
    assert a == b


def test_hostile_charset_roundtrip(spark, tmp_path):
    """Escaping guard: text containing PDF-literal and JSON metachars
    (backslash, parens, quotes) must survive synthesis -> kernel ->
    normalize byte-identically. doc_ids are chosen to hit the %FAKEPDF
    (11 mod 40), real-%PDF (31 mod 40), and HTML flavors."""
    import pandas as pd

    hostile = 'weird (parens) and \\backslash\\ and "quotes" and \\n literal'
    rows = [
        (11, "srcH", hostile + " fakepdf flavor", "en", 40),
        (31, "srcH", hostile + " realpdf flavor", "en", 40),
        (12, "srcH", hostile + " html flavor", "en", 40),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "source", "text", "lang", "n_chars"]
    )
    d = str(tmp_path / "hostile")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")

    pages = synthesize_pages(spark, d, with_expected=True)
    result = run_extraction_pipeline(
        pages.drop("expected_text", "doc_id"), near_dups=False
    )
    expected = {r.url: r.expected_text for r in pages.collect()}
    got = {r.url: (r.status, r.text) for r in result.collect()}
    assert len(got) == 3
    for url, (status, text) in got.items():
        assert status == "found", (url, status)
        assert text == expected[url], url
        assert "(parens)" in text and '"quotes"' in text and "\\backslash\\" in text


def test_simhash_closure_collapses_chains(spark):
    """A drift chain A~B~C (each link Hamming 2, ends Hamming 4 — NOT a
    verified pair) keeps one-hop labels: C takes B while A keeps itself
    (the documented approximation; closing the chain is
    ``connected_components``' job)."""
    from ocr_parallel_spark.operators.neardup import mark_simhash_near_dups

    base = 0x0123456789ABCDEF
    a = base
    b = base ^ 0b11              # bits 0,1 -> band 0 differs only
    c = b ^ (0b11 << 16)         # bits 16,17 -> band 1 differs vs b
    d = 0x7654321087654321       # unrelated
    df = spark.createDataFrame(
        [("a", a), ("b", b), ("c", c), ("d", d)], "url string, simhash long"
    )
    one_iter = {
        r.url: (r.near_rep, r.is_near_dup)
        for r in mark_simhash_near_dups(df).collect()
    }
    assert one_iter["a"] == ("a", False)
    assert one_iter["b"] == ("a", True)
    assert one_iter["c"] == ("b", True)  # the documented 1-hop label
    assert one_iter["d"] == (None, False)


def _near_dups_reference(rows, threshold, max_bucket):
    """Brute-force ``mark_simhash_near_dups``: (id, simhash) rows ->
    {(id, simhash): (near_rep, is_near_dup)}, from the documented
    semantics. Rows with simhash 0 take no part; a band bucket with more
    than ``max_bucket`` rows yields no pairs; a candidate pair needs two
    different non-NULL ids and Hamming distance <= ``threshold``."""
    from collections import defaultdict

    from ocr_parallel_spark.operators.neardup import BAND_BITS, N_BANDS

    mask = (1 << 64) - 1
    buckets = defaultdict(list)
    for doc_id, h in rows:
        if h == 0:
            continue
        for i in range(N_BANDS):
            band = ((h & mask) >> (i * BAND_BITS)) & ((1 << BAND_BITS) - 1)
            buckets[i, band].append((doc_id, h))
    pairs = []
    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        for a, ha in members:
            for b, hb in members:
                if (
                    a is not None and b is not None and a != b
                    and bin((ha ^ hb) & mask).count("1") <= threshold
                ):
                    pairs.append((a, b))
    reps = {}
    for a, b in pairs:
        reps[a] = min(reps.get(a, a), b)
    return {
        (doc_id, h): (reps.get(doc_id), doc_id in reps and reps[doc_id] != doc_id)
        for doc_id, h in rows
    }


def test_simhash_near_dups_match_reference(spark):
    """``mark_simhash_near_dups`` equals the brute-force reference on a
    seeded input with: clusters of docs within Hamming 3 of a base (so
    pairs and chains), one band bucket of ``max_bucket + 1`` docs holding
    a pair that shares no other band, ``simhash = 0`` rows and a NULL id."""
    import random

    from ocr_parallel_spark.operators.neardup import mark_simhash_near_dups

    rng = random.Random(20261017)
    max_bucket, threshold = 8, 3

    def signed(h):
        return h - (1 << 64) if h >= 1 << 63 else h

    def flip(h, n):
        for bit in rng.sample(range(64), n):
            h ^= 1 << bit
        return h

    hashes = []
    for _ in range(12):
        base = rng.getrandbits(64)
        hashes.append(base)
        hashes += [flip(base, rng.randint(0, 3)) for _ in range(rng.randint(1, 4))]
    # the hot bucket: max_bucket + 1 docs share band 0; two of them are
    # within Hamming 3 but share band 0 only, so they must not pair
    hot_low = rng.getrandbits(16)
    hot = [(rng.getrandbits(48) << 16) | hot_low for _ in range(max_bucket)]
    hot.append(hot[0] ^ (1 << 16 | 1 << 32 | 1 << 48))
    hashes += hot
    null_h = signed(hashes[0])  # a NULL id on a cluster base's simhash
    # ids in random order, so a cluster's minimum id is often not its base
    rng.shuffle(hashes)
    rows = [(f"u{i:03d}", signed(h)) for i, h in enumerate(hashes)]
    rows += [("zero-a", 0), ("zero-b", 0), (None, null_h)]

    want = _near_dups_reference(rows, threshold, max_bucket)
    df = spark.createDataFrame(rows, "url string, simhash long")
    out = mark_simhash_near_dups(
        df, hamming_threshold=threshold, max_bucket=max_bucket
    ).collect()
    assert len(out) == len(rows)
    assert {(r.url, r.simhash): (r.near_rep, r.is_near_dup) for r in out} == want
    # the input exercises what it should: near-dups exist, and the
    # capped bucket and the NULL id yield none
    assert sum(d for _, d in want.values()) > 5
    hot_hashes = {signed(h) for h in hot}
    assert all(v == (None, False) for (_, h), v in want.items() if h in hot_hashes)
    assert want[None, null_h] == (None, False)


def _minhash_pairs_reference(rows, max_bucket):
    """Brute-force ``pairs_from_banded``: (id, bands) rows -> the set of
    (a, b), a < b, sharing a (band position, band hash) bucket of at most
    ``max_bucket`` rows."""
    from collections import defaultdict

    buckets = defaultdict(list)
    for doc_id, bands in rows:
        for i, h in enumerate(bands):
            buckets[i, h].append(doc_id)
    return {
        (a, b)
        for ids in buckets.values()
        if len(ids) <= max_bucket
        for a in ids
        for b in ids
        if a < b
    }


def test_minhash_pairs_match_reference(spark):
    """``pairs_from_banded`` equals the brute-force reference on synthetic
    band rows with: a bucket of ``max_bucket + 1`` rows holding a pair
    that shares no other band, a pair sharing two bands (one row), an id
    alone in all its buckets, and seeded random rows over few band values.
    Ids 9 and 10 pin numeric, not string, order."""
    import random

    from ocr_parallel_spark.operators.neardup import pairs_from_banded

    rng = random.Random(20261019)
    max_bucket = 3
    rows = [
        # band 0 bucket 7 holds max_bucket + 1 rows; 1 and 2 share only it
        (1, [7, 100, 200, 300]),
        (2, [7, 101, 201, 301]),
        (3, [7, 102, 202, 302]),
        (4, [7, 103, 203, 303]),
        # 9 and 10 share bands 1 and 2
        (9, [11, 110, 210, 310]),
        (10, [12, 110, 210, 311]),
        # alone everywhere
        (5, [13, 120, 220, 320]),
    ]
    rows += [
        (100 + i, [1000 * (k + 1) + rng.randrange(6) for k in range(4)])
        for i in range(20)
    ]
    want = _minhash_pairs_reference(rows, max_bucket)
    df = spark.createDataFrame(rows, "doc_id long, bands array<bigint>")
    got = [
        (r.id_a, r.id_b)
        for r in pairs_from_banded(df, "doc_id", max_bucket).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want
    # the input exercises what it should
    assert (1, 2) not in want and (9, 10) in want
    assert not any(5 in p for p in want)
    assert sum(p[0] >= 100 for p in want) > 10
