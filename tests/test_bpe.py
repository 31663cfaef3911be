"""Deterministic BPE kernel + distributed fit/count + the curate->pack
chain that consumes the counts."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_parallel_spark.kernel.bpe import (
    encode,
    make_counter,
    merges_from_strings,
    merges_to_strings,
    train_bpe,
)

WORDS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x24F),
    min_size=1,
    max_size=8,
)


def test_bpe_golden_textbook_example():
    """The Sennrich et al. running example: with {low:5, lower:2,
    newest:6, widest:3} the first merges fuse the frequent 'es'/'est'
    suffix; the encoder then re-derives each training word as few
    units than characters."""
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    m = train_bpe(freqs, 10)
    assert m[0] == ("e", "s") and m[1] == ("es", "t▁")
    assert encode("newest", m) == ["newest▁"]
    assert encode("low", m) == ["low▁"]
    # unseen word with a trained suffix reuses it
    assert encode("tallest", m)[-1] == "est▁"
    assert make_counter(m)("low lower newest") == 1 + 4 + 1


def test_bpe_determinism_and_serialization():
    freqs = {"abc": 3, "abd": 3, "xyz": 2}
    m1 = train_bpe(freqs, 8)
    m2 = train_bpe(dict(reversed(list(freqs.items()))), 8)
    assert m1 == m2
    assert merges_from_strings(merges_to_strings(m1)) == m1


@settings(max_examples=50, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=20), st.integers(0, 30))
def test_bpe_distributivity_and_bounds(words, n_merges):
    """The laws the distributed count path relies on: words tokenize
    independently (count of a concatenation = sum of counts) and every
    count sits in [n_words, n_chars]."""
    freqs: dict = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    m = train_bpe(freqs, n_merges)
    text = " ".join(words)
    count = make_counter(m)
    total = count(text)
    assert total == sum(count(w) for w in words)
    assert len(words) <= total <= sum(len(w) for w in words)
    # the counter's word cache agrees with the plain encoder
    assert total == sum(len(encode(w, m)) for w in words)


def test_fit_and_count_distributed(spark, sf_dir):
    """fit_bpe_merges (distributed word count + driver merge loop)
    equals a driver-side fit on the same frequencies; bpe_token_counts
    equals per-doc kernel counts."""
    from ocr_parallel_spark.functions.tokenize import (
        bpe_token_counts,
        fit_bpe_merges,
    )
    from ocr_parallel_spark.operators.classify import normalize_col

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", normalize_col("text").alias("norm"))
    )
    merges = fit_bpe_merges(docs, "norm", n_merges=50)
    rows = docs.collect()
    freqs: dict = {}
    for r in rows:
        for w in r.norm.split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    assert merges == train_bpe(freqs, 50)
    got = {r.doc_id: r.n_bpe_tokens for r in bpe_token_counts(docs, merges).collect()}
    counter = make_counter(merges)
    for r in rows:
        assert got[r.doc_id] == counter(r.norm)


def test_curate_bpe_to_pack_chain(spark, sf_dir, tmp_path):
    """The flagship composition: job_curate --bpe-merges emits
    n_bpe_tokens on kept verdicts; job_pack --from-verdicts
    --n-tokens-col n_bpe_tokens packs by EXACTLY those counts
    (offsets = per-source exclusive prefix sums of the BPE counts)."""
    import importlib.util
    import pathlib

    def load(name):
        spec = importlib.util.spec_from_file_location(
            name,
            pathlib.Path(__file__).resolve().parent.parent / "scripts" / f"{name}.py",
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    jp = load("job_pack")
    from ocr_parallel_spark.curation_pipeline import run_curation_pipeline
    from ocr_parallel_spark.functions.tokenize import fit_bpe_merges
    from ocr_parallel_spark.operators.classify import normalize_col

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 120)
        .withColumn(
            "url",
            F.concat(F.lit("https://site.example.com/p/"), F.col("doc_id")),
        )
        .select("doc_id", "url", "text", "lang", "source")
    )
    merges = fit_bpe_merges(
        docs.select(normalize_col("text").alias("norm")), "norm", 50
    )
    verdicts = run_curation_pipeline(docs, None, None, bpe_merges=merges)
    kept = verdicts.filter("kept").select(
        "doc_id", "source", F.col("kept_text").alias("text"), "n_bpe_tokens"
    )
    assert kept.filter("n_bpe_tokens IS NULL").count() == 0
    packed = {
        r.doc_id: r
        for r in jp.build_output(
            spark, kept, 64, n_tokens_col="n_bpe_tokens"
        ).collect()
    }
    # offsets are exclusive prefix sums of the BPE counts per source
    rows = sorted(kept.collect(), key=lambda r: (r.source, r.doc_id))
    offs: dict = {}
    for r in rows:
        assert packed[r.doc_id].n_tokens == r.n_bpe_tokens
        assert packed[r.doc_id].tok_offset == offs.get(r.source, 0)
        offs[r.source] = offs.get(r.source, 0) + r.n_bpe_tokens
