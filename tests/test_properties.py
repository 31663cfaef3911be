"""Property-based invariants (hypothesis) for the kernel + operators.

These pin algebraic properties the example-based tests can't sweep:
normalization idempotence, chunk coverage/overlap laws and fingerprint
stability.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_parallel_spark.kernel.normalize import clean_text
from ocr_parallel_spark.kernel.simhash import (
    minhash_signature,
    shingle_hashes,
    simhash64,
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)
WORDS = st.lists(
    st.text(alphabet="abcdefghijklmnop", min_size=1, max_size=8),
    min_size=0,
    max_size=120,
).map(" ".join)


@settings(max_examples=120, deadline=None)
@given(TEXT)
def test_clean_text_idempotent(s):
    once = clean_text(s)
    assert clean_text(once) == once


@settings(max_examples=120, deadline=None)
@given(TEXT)
def test_clean_text_no_runs_or_edges(s):
    out = clean_text(s)
    assert "  " not in out
    assert out == out.strip()
    assert "\n" not in out and "\t" not in out


@settings(max_examples=60, deadline=None)
@given(WORDS)
def test_simhash_deterministic_and_selfsame(s):
    a, b = simhash64(s), simhash64(s)
    assert a == b
    assert (a ^ b).bit_count() == 0
    if not s.split():
        assert a == 0


@settings(max_examples=60, deadline=None)
@given(WORDS)
def test_shingle_hash_count_law(s):
    toks = s.split()
    h = shingle_hashes(s, k=3)
    if not toks:
        assert h.size == 0
    elif len(toks) < 3:
        assert h.size == 1
    else:
        assert h.size == len(toks) - 2


@settings(max_examples=40, deadline=None)
@given(WORDS)
def test_minhash_signature_shape_and_determinism(s):
    sig = minhash_signature(s, n_perm=32)
    assert len(sig) == 32
    assert sig == minhash_signature(s, n_perm=32)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=1, max_value=60), st.integers(min_value=2, max_value=12))
def test_chunk_count_law(n_rows, chunk_size):
    """Pure-python mirror of the chunk-count formula used by
    operators.chunking (1 chunk when n <= size, else ceil((n-size)/step)+1):
    chunks cover every row and consecutive chunks overlap by `overlap`."""
    import math

    overlap = min(chunk_size - 1, 2)
    step = chunk_size - overlap
    n_chunks = 1 if n_rows <= chunk_size else math.ceil((n_rows - chunk_size) / step) + 1
    covered = set()
    for c in range(n_chunks):
        covered |= set(range(c * step, min(c * step + chunk_size, n_rows)))
    assert covered == set(range(n_rows))
    if n_chunks > 1:
        for c in range(n_chunks - 1):
            a = set(range(c * step, min(c * step + chunk_size, n_rows)))
            b = set(range((c + 1) * step, min((c + 1) * step + chunk_size, n_rows)))
            assert len(a & b) >= 1  # consecutive chunks overlap


# ------------------------------------------------------------- WARC kernel

_URI = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF),
    min_size=1,
    max_size=40,
)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.tuples(_URI, st.binary(max_size=300)), min_size=1, max_size=5
    ),
    st.booleans(),
)
def test_warc_build_parse_round_trip(recs, gz):
    """build_record -> (gzip per record) -> gunzip_salvage ->
    parse_warc_salvage (the parsers read_warc runs) recovers every
    (uri, payload) exactly and reports no error, for ARBITRARY payloads —
    including ones full of CRLFs, 'WARC/1.0' strings and gzip magic."""
    import gzip as _gzip

    from ocr_parallel_spark.kernel.warc_parse import (
        build_record,
        gunzip_salvage,
        parse_warc_salvage,
    )

    raw = [
        build_record("response", uri, block, f"<urn:{i}>")
        for i, (uri, block) in enumerate(recs)
    ]
    wire = (
        b"".join(_gzip.compress(r, mtime=0) for r in raw)
        if gz
        else b"".join(raw)
    )
    data, gz_err = gunzip_salvage(wire)
    out, parse_err = parse_warc_salvage(data)
    assert gz_err is None and parse_err is None
    assert [(r["target_uri"], r["block"]) for r in out] == [
        (uri, block) for uri, block in recs
    ]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(_URI, st.binary(max_size=300)), min_size=1, max_size=5
    ),
    st.data(),
)
def test_warc_salvage_recovers_exact_prefix(recs, data):
    """Cutting a plain WARC stream at ANY byte yields exactly the
    records that fit entirely before the cut, plus an error for the
    damaged remainder (or no error when the cut lands cleanly between
    records) — never a lost good record, never a phantom one."""
    from ocr_parallel_spark.kernel.warc_parse import (
        build_record,
        parse_warc_salvage,
    )

    raw = [
        build_record("response", uri, block, f"<urn:{i}>")
        for i, (uri, block) in enumerate(recs)
    ]
    wire = b"".join(raw)
    cut = data.draw(st.integers(0, len(wire)))
    out, err = parse_warc_salvage(wire[:cut])
    # a record is recovered iff its head+block (the trailing 4-byte
    # separator is OUTSIDE the record per the spec) fits before the cut
    whole, pos, last_ce = 0, 0, 0
    for r in raw:
        content_end = pos + len(r) - 4
        if content_end <= cut:
            whole += 1
            last_ce = content_end
            pos = content_end + 4
        else:
            break
    assert [(r["target_uri"], r["block"]) for r in out] == [
        (uri, block) for uri, block in recs[:whole]
    ]
    # error iff the truncated remainder is anything but whole CRLF
    # separator pairs (a lone '\r' is itself damage)
    rem = wire[last_ce:cut]
    clean = len(rem) % 2 == 0 and rem == b"\r\n" * (len(rem) // 2)
    assert (err is None) == clean


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400), st.text(max_size=60))
def test_sniff_and_decode_never_raises(body, content_type):
    """Total function over arbitrary crawl bytes and Content-Type
    headers: always returns a bounded charset label and a str."""
    from ocr_parallel_spark.kernel.warc_parse import sniff_and_decode

    cs, text = sniff_and_decode(body, content_type)
    assert isinstance(cs, str) and cs and isinstance(text, str)


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=300))
def test_split_http_response_total(block):
    from ocr_parallel_spark.kernel.warc_parse import (
        split_http_response,
        split_http_response_full,
    )

    status, body = split_http_response(block)
    status2, headers, body2 = split_http_response_full(block)
    assert isinstance(status, str) and isinstance(body, bytes)
    assert body2 == body and status2 == status
    assert all(isinstance(k, str) and isinstance(v, str) for k, v in headers.items())


# ---- winnowing fingerprint scheme (queries_catalog.q_winnowed_spans) ----
#
# Pure-Python mirror of the Spark expressions (hashlib sha256 hex ==
# Spark sha2(...,256) — pinned elsewhere); the Spark implementation
# itself is value-hash-pinned by the winnowed_spans oracle. These pin
# the SCHEME's laws over random inputs the gate corpus can't sweep.

TOKENS = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=4), min_size=0, max_size=60
)


def _span_hashes(toks):
    import hashlib

    from ocr_parallel_spark.queries_catalog import SPAN_W

    if len(toks) < SPAN_W:
        return []
    return [
        hashlib.sha256(" ".join(toks[i : i + SPAN_W]).encode()).hexdigest()
        for i in range(len(toks) - SPAN_W + 1)
    ]


def _winnow_fps(spans):
    from ocr_parallel_spark.queries_catalog import WINNOW_W

    if not spans:
        return set()
    m = max(len(spans) - WINNOW_W + 1, 1)
    return {min(spans[i : i + WINNOW_W]) for i in range(m)}


@settings(max_examples=120, deadline=None)
@given(TOKENS)
def test_winnow_fingerprints_subset_of_spans(toks):
    spans = _span_hashes(toks)
    fps = _winnow_fps(spans)
    assert fps <= set(spans)
    # every window of WINNOW_W consecutive spans contributed its min
    if spans:
        assert len(fps) >= 1


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.text(alphabet="abcd", min_size=1, max_size=3), max_size=30),
    st.lists(st.text(alphabet="efgh", min_size=1, max_size=3), max_size=30),
    st.lists(st.text(alphabet="ijkl", min_size=1, max_size=3), min_size=18, max_size=40),
)
def test_winnow_shared_run_guarantee(prefix, suffix, shared):
    """The winnowing guarantee (Schleimer et al. Thm.): two docs sharing
    a contiguous run of >= SPAN_W + WINNOW_W - 1 tokens share at least
    one fingerprint — regardless of the surrounding context."""
    a = prefix + shared
    b = shared + suffix
    fa = _winnow_fps(_span_hashes(a))
    fb = _winnow_fps(_span_hashes(b))
    assert fa & fb


# ---- trigram-LM surprise scheme (functions/lm.py) ----
#
# Pure-Python mirror of the fit + scoring math (the Spark implementation
# is value-hash-pinned by the lm_surprise oracle at 3 scales). These
# pin the SCHEME's laws over random corpora the gate corpus can't sweep.

LM_DOCS = st.lists(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=3),
        min_size=0,
        max_size=12,
    ).map(" ".join),
    min_size=0,
    max_size=12,
)


def _py_fit(docs, min_count=2, unseen=24):
    from collections import Counter

    tri, ctx = Counter(), Counter()
    for d in docs:
        toks = (d or "").split(" ")
        for i in range(max(len(toks) - 2, 0)):
            tri[(toks[i], toks[i + 1], toks[i + 2])] += 1
            ctx[(toks[i], toks[i + 1])] += 1
    return {
        " ".join(g): min(ctx[g[:2]].bit_length() - c.bit_length() + 1, unseen)
        for g, c in tri.items()
        if c >= min_count
    }


def _py_score(doc, model, unseen=24):
    toks = (doc or "").split(" ")
    n = max(len(toks) - 2, 0)
    s = sum(
        model.get(" ".join(toks[i : i + 3]), unseen) for i in range(n)
    )
    return n, s, ((16 * s) // n if n else None)


@settings(max_examples=150, deadline=None)
@given(LM_DOCS, st.lists(st.text(alphabet="abcd ", max_size=20), max_size=6))
def test_lm_scheme_laws(ref, crawl):
    """Fit/score laws over random corpora: every modeled gram repeats
    >= min_count in the reference; in-model surprise sits in
    [1, unseen] (c2 >= c3 gives the floor, the cap the ceiling — so
    unseen text is NEVER cheaper than seen); scoring bounds follow;
    and a doc sharing no gram with the reference costs exactly
    unseen per position."""
    from collections import Counter

    def grams(d):
        toks = (d or "").split(" ")
        return [
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
        ]

    model = _py_fit(ref)
    raw = Counter(g for d in ref for g in grams(d))
    for g, cost in model.items():
        assert raw[g] >= 2
        assert 1 <= cost <= 24
    for doc in crawl:
        n, s, x16 = _py_score(doc, model)
        toks = (doc or "").split(" ")
        assert n == max(len(toks) - 2, 0)
        assert n <= s <= 24 * n or (n == 0 and s == 0)
        if n == 0:
            assert x16 is None
        else:
            assert 16 <= x16 <= 16 * 24
    alien = "zz zz zz zz"
    n, s, x16 = _py_score(alien, model)
    assert (n, s, x16) == (2, 48, 16 * 24)


def test_lm_spark_equals_python_mirror(spark):
    """One deterministic random-ish corpus (sha-derived tokens, far from
    the gate corpus's template text): distributed fit + score ==
    the pure-Python mirror exactly, doc for doc."""
    import hashlib

    from ocr_parallel_spark.functions.lm import doc_surprise, fit_trigram_lm

    def tok(i, j):
        return hashlib.sha256(f"{i}:{j}".encode()).hexdigest()[: 2 + (i + j) % 3]

    ref_rows = [
        (i, " ".join(tok(i % 7, j) for j in range((i * 13) % 11)))
        for i in range(60)
    ]
    crawl_rows = [
        (100 + i, " ".join(tok(i % 9, j) for j in range((i * 7) % 13)))
        for i in range(40)
    ] + [(999, None), (998, "solo"), (997, "zz zz zz zz")]

    ref_df = spark.createDataFrame(ref_rows, "doc_id long, norm string")
    crawl_df = spark.createDataFrame(crawl_rows, "doc_id long, norm string")
    model_df = fit_trigram_lm(ref_df)
    got_model = {r.gram: r.surprise for r in model_df.collect()}
    assert got_model == _py_fit([t for _, t in ref_rows])

    got = {
        r.doc_id: (r.n_grams, r.sum_surprise, r.surprise_x16)
        for r in doc_surprise(crawl_df, model_df).collect()
    }
    want = {
        d: _py_score(t, got_model) for d, t in crawl_rows
    }
    assert got == want


# ------------------------------------------------- bloom / cms sketch laws --
# Python mirror of the sha2-hex-slice position derivation shared by
# functions/bloom.py and functions/cms.py; the Spark == mirror pin lives
# in test_sketch_mirror_matches_spark below (one session, many keys),
# and the hypothesis laws then run mirror-only at pure-python speed.


def _mirror_positions(key: str, modulus: int, n: int) -> list[int]:
    import hashlib

    h = hashlib.sha256(key.encode("utf-8")).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % modulus for i in range(n)]


def _mirror_bloom(keys, n_bits, k):
    words: dict[int, int] = {}
    for key in keys:
        for p in _mirror_positions(key, n_bits, k):
            words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))
    return words


def _mirror_bloom_probe(key, words, n_bits, k):
    return all(
        words.get(p // 64, 0) & (1 << (p % 64)) for p in _mirror_positions(key, n_bits, k)
    )


def _mirror_cms(keys, width, d):
    cells: dict[tuple[int, int], int] = {}
    for key in keys:
        for i, p in enumerate(_mirror_positions(key, width, d)):
            cells[(i, p)] = cells.get((i, p), 0) + 1
    return cells


def _mirror_cms_est(key, cells, width, d):
    return min(
        cells.get((i, p), 0) for i, p in enumerate(_mirror_positions(key, width, d))
    )


KEYS = st.lists(st.text(min_size=0, max_size=24), min_size=0, max_size=60)


@settings(max_examples=120, deadline=None)
@given(KEYS, st.lists(st.text(max_size=24), max_size=20))
def test_bloom_mirror_no_false_negatives_and_merge_law(built, probes):
    words = _mirror_bloom(built, 1024, 4)
    for key in built:
        assert _mirror_bloom_probe(key, words, 1024, 4)
    # merge == rebuild (bitwise-or of word maps)
    half = len(built) // 2
    a, b = _mirror_bloom(built[:half], 1024, 4), _mirror_bloom(built[half:], 1024, 4)
    merged = dict(a)
    for w, v in b.items():
        merged[w] = merged.get(w, 0) | v
    assert merged == words


@settings(max_examples=120, deadline=None)
@given(KEYS)
def test_cms_mirror_never_undercounts_and_merge_law(keys):
    from collections import Counter

    cells = _mirror_cms(keys, 128, 4)
    truth = Counter(keys)
    for key, c in truth.items():
        assert _mirror_cms_est(key, cells, 128, 4) >= c
    half = len(keys) // 2
    a, b = _mirror_cms(keys[:half], 128, 4), _mirror_cms(keys[half:], 128, 4)
    merged = Counter(a)
    merged.update(b)
    assert dict(merged) == cells


def test_sketch_mirror_matches_spark(spark):
    """Pin the Python mirror to the Spark derivation once per suite:
    identical bloom words and cms cells for a shared key set, so the
    hypothesis laws above genuinely govern the Spark operators."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.functions.bloom import bloom_build
    from ocr_parallel_spark.functions.cms import cms_build

    keys = [f"k-{i}" for i in range(200)] + ["", "unicode-é中"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got_words = {
        int(r.word_idx): int(r.word)
        for r in bloom_build(df, "k", 1024, 4).collect()
    }
    want_words = {w: v for w, v in _mirror_bloom(keys, 1024, 4).items()}
    # Spark words are signed 64-bit; normalize the mirror to match
    want_words = {w: v - (1 << 64) if v >= (1 << 63) else v for w, v in want_words.items()}
    assert got_words == want_words
    got_cells = {
        (int(r.row_idx), int(r.col_idx)): int(r.cnt)
        for r in cms_build(df, "k", 128, 4).collect()
    }
    assert got_cells == _mirror_cms(keys, 128, 4)


# ------------------------------------------------------- span-surgery laws --


def _mirror_excise(docs: dict[int, str], w: int = 5):
    """Pure-python mirror of operators/dedup.py excise_repeated_spans
    (sha256 window keys match Spark's sha2 byte-for-byte)."""
    import hashlib

    toks = {d: (t or "").split(" ") for d, t in docs.items()}
    wins: dict[str, list[tuple[int, int]]] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - w + 1):
            h = hashlib.sha256(" ".join(ts[i : i + w]).encode()).hexdigest()
            wins.setdefault(h, []).append((d, i + 1))
    out = {}
    bad: dict[int, list[int]] = {}
    for h, occ in wins.items():
        ids = {d for d, _ in occ}
        if len(ids) >= 2:
            owner = min(ids)
            for d, i in occ:
                if d != owner:
                    bad.setdefault(d, []).append(i)
    for d, ts in toks.items():
        bs = bad.get(d, [])
        kept = [
            t for p, t in enumerate(ts, start=1)
            if not any(p - w + 1 <= s <= p for s in bs)
        ]
        out[d] = (len(ts), len(ts) - len(kept), " ".join(kept), kept)
    return out


WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
DOCS = st.dictionaries(
    st.integers(min_value=0, max_value=9),
    st.lists(WORD, min_size=0, max_size=30).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=120, deadline=None)
@given(DOCS)
def test_excise_mirror_laws(docs):
    out = _mirror_excise(docs, 5)
    ids = sorted(docs)
    for d, (n, removed, text, kept) in out.items():
        ts = (docs[d] or "").split(" ")
        # kept tokens are an ordered subsequence of the input
        it = iter(ts)
        assert all(any(t == x for x in it) for t in kept)
        assert removed == len(ts) - len(kept) >= 0
        assert text == " ".join(kept)
    # the globally minimal id can lose tokens only to an EVEN lower
    # owner — there is none, so it never loses anything
    assert out[ids[0]][1] == 0


def test_excise_mirror_matches_spark(spark):
    """Pin the mirror to the Spark operator on a corpus that exercises
    sharing, chains, short docs, and empty text."""
    from ocr_parallel_spark.operators.dedup import excise_repeated_spans

    span = "s1 s2 s3 s4 s5 s6 s7"
    docs = {
        1: "a1 a2 " + span,
        2: "b1 b2 b3 " + span,
        3: "c1 " + span + " tail1 tail2",
        4: "short one",
        5: "",
        6: "u1 u2 u3 u4 u5 u6 u7 u8",
    }
    sdf = spark.createDataFrame(
        list(docs.items()), "doc_id long, norm string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.deduped_text)
        for r in excise_repeated_spans(sdf, "norm", "doc_id", w=5).collect()
    }
    assert got == {
        d: (n, r, t) for d, (n, r, t, _) in _mirror_excise(docs, 5).items()
    }
