"""Benchmark inputs, built from source and cached by content key.

``documents`` is a seeded stand-in for the sf0.1 ``documents`` table the
catalog queries read (doc_id, text, lang, source, n_chars). Its generator
is fitted to that table: texts of 10-100 words drawn uniformly from the same
30-word vocabulary, 5% of the documents a copy of another document (any
position) with a " dup" suffix, languages en 40% and zh/es/fr/de 15% each,
20 sources assigned round-robin. ``pages`` runs
``synthesize_pages(with_expected=True, body_repeat=24)`` over such a corpus,
which gives the CC-realistic heavy pages (about 7.7 KB each) together with
the text the kernel must produce for each row.

Both are content-keyed: the key hashes this file, ``pages.py`` and the
sizes, so an edit to either rebuilds them. What the seed changes is cheap
and rebuilt per run: the row order and row-to-file layout of the job input.
"""

from __future__ import annotations

import hashlib
import pathlib
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3
N_SOURCES = 20
DUP_SHARE = 0.05
# Content of the generated corpus is fixed; the run seed never reaches it.
CORPUS_SEED = 7
BODY_REPEAT = 24
N_FILES = 16


def content_key(*parts: object) -> str:
    """Digest of this file, ``pages.py`` and ``parts``: names a cached input."""
    import ocr_parallel_spark.pages as pages_mod

    h = hashlib.sha256(pathlib.Path(__file__).read_bytes())
    h.update(pathlib.Path(pages_mod.__file__).read_bytes())
    h.update(repr(parts).encode())
    return h.hexdigest()[:12]


def documents_table(n_docs: int) -> pa.Table:
    rng = random.Random(CORPUS_SEED)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    base = list(texts)
    for doc_id in rng.sample(range(n_docs), round(DUP_SHARE * n_docs)):
        texts[doc_id] = base[rng.randrange(n_docs)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _ready(path: pathlib.Path) -> bool:
    return (path / "_SUCCESS").exists()


def documents_dir(cache: pathlib.Path, n_docs: int) -> pathlib.Path:
    """A directory holding ``documents.parquet`` (the ``sf_dir`` shape the
    catalog queries and ``synthesize_pages`` read)."""
    out = cache / f"docs-{n_docs}-{content_key('docs', n_docs)}"
    if not _ready(out):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        pq.write_table(documents_table(n_docs), out / "documents.parquet")
        (out / "_SUCCESS").touch()
    return out


def pages_table(session, cache: pathlib.Path, n_docs: int) -> pa.Table:
    """Heavy synthesized pages with ``doc_id`` and ``expected_text``.
    ``session`` makes the Spark session a cache miss builds them in."""
    docs = documents_dir(cache, n_docs)
    out = cache / f"pages-{n_docs}-{content_key('pages', n_docs, BODY_REPEAT)}"
    if not _ready(out):
        from ocr_parallel_spark.pages import synthesize_pages

        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        with session() as spark:
            tbl = synthesize_pages(
                spark, str(docs), with_expected=True, body_repeat=BODY_REPEAT
            ).toArrow()
        tbl = tbl.sort_by("doc_id")
        pq.write_table(tbl, out / "pages.parquet")
        (out / "_SUCCESS").touch()
    return pq.read_table(out / "pages.parquet")


def write_layout(
    pages: pa.Table, dest: pathlib.Path, seed: int, n_files: int = N_FILES
) -> pathlib.Path:
    """Write the job input (no ``doc_id``/``expected_text``) as ``n_files``
    parquet files, rows shuffled to files by ``seed``."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    order = list(range(pages.num_rows))
    random.Random(seed).shuffle(order)
    job_cols = pages.drop_columns(["doc_id", "expected_text"])
    per_file = -(-len(order) // n_files)
    for i in range(n_files):
        idx = order[i * per_file : (i + 1) * per_file]
        if idx:
            pq.write_table(job_cols.take(idx), dest / f"part-{i:05d}.parquet")
    return dest


def write_documents(docs: pa.Table, dest: pathlib.Path, seed: int) -> pathlib.Path:
    """Write ``documents.parquet`` into ``dest``, rows in an order picked by
    ``seed``."""
    order = list(range(docs.num_rows))
    random.Random(seed).shuffle(order)
    dest.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs.take(pa.array(order)), dest / "documents.parquet")
    return dest


def expected_by_url(pages: pa.Table) -> dict[str, str | None]:
    """url -> the text the job must commit for it: the keep-first winner
    (earliest ``warc_ts``) carries the url; None marks a planted error."""
    best: dict[str, tuple] = {}
    for url, ts, text in zip(
        pages.column("url").to_pylist(),
        pages.column("warc_ts").to_pylist(),
        pages.column("expected_text").to_pylist(),
    ):
        if url not in best or ts < best[url][0]:
            best[url] = (ts, text)
    return {url: v[1] for url, v in best.items()}
