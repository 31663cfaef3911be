"""The benchmark workloads: one job each, run in a closed loop.

Every workload has the same life cycle, driven by ``run.py``:

- ``prepare`` builds the inputs before any timed session (cached by
  content key where the seed does not reach them, never timed); it gets a
  factory of private Spark sessions for the inputs that need Spark;
- ``reset`` puts the output location back to its start state (untimed);
- ``run`` is the timed job, from the input table to the committed result,
  in the session ``run.py`` put in ``self.spark``;
- ``verify`` checks the last run's output without Spark (untimed);
- ``layers`` replays the job layer by layer for the traced run.

A workload is built for one input size; ``run.py`` builds a second, small
instance of the same workload whose run warms the session up.

``layers`` times calls into the program's public functions from outside, in
the order the job composes them, and returns each layer's self time;
``run.py`` checks their sum against a plain run of the job. The extract
job runs its steps as separate Spark jobs, so its layers are measured apart:
each step reads the previous step's output persisted in memory and persists
its own with a ``noop`` write. ``full_process`` runs fused into one stage,
so its layers are increments of prefix spans (see ``FullProcess.layers``).
``layer_metrics`` names the per-layer metrics a workload's traced run yields.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import pathlib
import shutil
import time

import pyarrow.parquet as pq

import inputs

KERNEL_SAMPLE = 160


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_bytes(path: pathlib.Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _replay(job: Job, steps) -> tuple[dict[str, float], list]:
    """Run ``steps`` (name, DataFrame -> DataFrame) in order, each over the
    previous step's persisted output; return each step's span and the
    persisted frames, the last one last."""
    from pyspark import StorageLevel

    spans, frames, df = {}, [], None
    for name, step in steps:
        df = step(df).persist(StorageLevel.MEMORY_AND_DISK)
        frames.append(df)
        job.group(f"layer:{name}")
        spans[name] = timed(lambda: noop(df))
    return spans, frames


class Job:
    """Shared plumbing: the session, the run directory, the job group."""

    name = ""
    # Rows of the timed input and of the warm-up input, per scale.
    sizes: dict[str, tuple[int, int]] = {}
    layer_metrics: frozenset[str] = frozenset()

    def __init__(self, root: pathlib.Path, run_dir: pathlib.Path,
                 seed: int, rows: int) -> None:
        self.spark = None
        self.root = root
        self.run_dir = run_dir
        self.seed = seed
        self.rows = rows
        self.cache = root / "perfbench" / ".work" / "cache"
        self.rows_in = 0
        self.input_bytes = 0

    def group(self, name: str) -> None:
        """Tag the following Spark jobs (read back from the event log)."""
        self.spark.sparkContext.setJobGroup(name, name)


class ExtractHeavy(Job):
    """The ``job_extract`` composition: ``run_resumable`` over
    ``run_extraction_pipeline`` with near-dups on, into a fresh
    SnapshotTable, over the heavy pages."""

    name = "extract_heavy"
    sizes = {"full": (1000, 100), "tiny": (120, 40)}
    layer_metrics = frozenset({
        "scan.wall_s", "scan.input_bytes",
        "kernel.extract_us_per_page", "kernel.html_us_per_page",
        "kernel.simhash_us_per_page", "kernel.core_s",
        "extraction.stage_s", "extraction.overhead_s", "extraction.tasks",
        "extraction.error_row_share",
        "dedup.keep_first_s", "dedup.exact_s", "dedup.shuffle_bytes",
        "neardup.s", "neardup.near_dup_rows",
        "snapshot.resume_filter_s", "snapshot.counters_s", "snapshot.append_s",
        "snapshot.bytes_written", "snapshot.spark_jobs",
        "snapshot.table_bytes_per_input_byte",
    })

    def prepare(self, session) -> None:
        pages = inputs.pages_table(session, self.cache, self.rows)
        self.pages = pages
        self.source = inputs.write_layout(pages, self.run_dir / "input", self.seed)
        self.expected = inputs.expected_by_url(pages)
        self.table_dir = self.run_dir / "table"
        self.rows_in = pages.num_rows
        self.input_bytes = sum(len(b) for b in pages.column("html").to_pylist())

    def _job(self, source: pathlib.Path) -> dict:
        from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable
        from ocr_parallel_spark.pipeline import run_extraction_pipeline

        return run_resumable(
            self.spark.read.parquet(str(source)),
            SnapshotTable(str(self.table_dir)),
            self.spark,
            lambda todo: run_extraction_pipeline(todo, near_dups=True),
            key_col="url",
            lineage={"input": str(source)},
        )

    def reset(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.table_dir, ignore_errors=True)

    def run(self) -> None:
        snap = self._job(self.source)
        if snap.get("noop") or snap["lineage"]["rows_written"] <= 0:
            raise RuntimeError(f"job committed nothing: {snap}")

    def run_failing(self) -> None:
        """The job over an input that does not exist (smoke tests use it
        to check that a failed run is counted)."""
        self._job(self.run_dir / "missing-input")

    def verify(self) -> dict:
        """Every url committed once with its expected text; every planted
        error (expected text None) committed as a ``status='error'`` row."""
        manifest = self.table_dir / "_manifests"
        snap = json.loads(
            (manifest / (manifest / "CURRENT").read_text().strip()).read_text()
        )
        dirs = [self.table_dir / d for d in snap["data_dirs"]]
        rows = [
            r for d in dirs
            for r in pq.read_table(d, columns=["url", "status", "text"]).to_pylist()
        ]
        seen = {r["url"]: r for r in rows}
        mismatches = len(rows) - len(seen) + len(set(seen) - set(self.expected))
        for url, text in self.expected.items():
            r = seen.get(url)
            if r is None:
                mismatches += 1
            elif text is None:
                mismatches += r["status"] != "error"
            else:
                mismatches += r["status"] == "error" or r["text"] != text
        table_bytes = sum(_dir_bytes(d) for d in dirs)
        return {
            "output_mismatches": mismatches,
            "error_row_share": sum(r["status"] == "error" for r in rows) / self.rows_in,
            "table_bytes_per_input_byte": table_bytes / self.input_bytes,
            "rows_committed": len(seen),
        }

    # ---- traced replay --------------------------------------------------

    def kernel_sample(self) -> dict:
        """Per-page cost of the kernel's public functions, in one process,
        on a fixed sample of this workload's own payloads."""
        from ocr_parallel_spark.kernel.extract import extract_payload
        from ocr_parallel_spark.kernel.html_extract import extract_html
        from ocr_parallel_spark.kernel.simhash import simhash64

        payloads = self.pages.column("html").to_pylist()[:KERNEL_SAMPLE]
        # html pages only: layout payloads start with "%", planted errors
        # carry a NUL byte.
        html = [
            p.decode("utf-8")
            for p in payloads
            if not p.startswith(b"%") and b"\x00" not in p
        ]
        texts = [extract_payload(p, with_simhash=False)["text"] or "" for p in payloads]

        def per_page_us(fn, items) -> float:
            fn(items[0])  # first-call caches stay out of the figure
            t0 = time.perf_counter()
            for item in items:
                fn(item)
            return (time.perf_counter() - t0) / len(items) * 1e6

        return {
            "kernel.extract_us_per_page": per_page_us(extract_payload, payloads),
            "kernel.html_us_per_page": per_page_us(extract_html, html),
            "kernel.simhash_us_per_page": per_page_us(simhash64, texts),
        }

    def layers(self, cores: int) -> dict:
        """The steps of ``run_resumable(run_extraction_pipeline)``, one
        layer each, then ``run_resumable``'s passes over the result."""
        from pyspark.sql import functions as F

        from ocr_parallel_spark.config import MAX_PAYLOAD_BYTES
        from ocr_parallel_spark.io.snapshot import (
            SnapshotTable,
            partition_counters,
            reason_histogram,
            resume_filter,
        )
        from ocr_parallel_spark.operators.classify import (
            classify_status,
            filter_oversized,
        )
        from ocr_parallel_spark.operators.dedup import (
            keep_first,
            mark_exact_content_dups,
        )
        from ocr_parallel_spark.operators.extraction import extract_pages
        from ocr_parallel_spark.operators.neardup import mark_simhash_near_dups

        spark = self.spark
        self.reset()
        table = SnapshotTable(str(self.table_dir))

        def near_dups(df):
            survivors = df.filter(
                (~F.col("is_exact_dup")) & (F.col("status") == "found")
            ).select("url", "simhash")
            marked = mark_simhash_near_dups(survivors, "simhash", "url").select(
                "url", "near_rep", "is_near_dup"
            )
            return df.join(marked, "url", "left").withColumn(
                "is_near_dup", F.coalesce(F.col("is_near_dup"), F.lit(False))
            )

        spans, frames = _replay(self, [
            ("scan", lambda _: spark.read.parquet(str(self.source))),
            ("resume_filter", lambda df: resume_filter(df, table, spark, "url")),
            ("extraction", lambda df: extract_pages(
                filter_oversized(df, "html", MAX_PAYLOAD_BYTES),
                "html", ("url", "warc_ts", "lang"))),
            ("keep_first", lambda df: keep_first(df, ["url"], ["warc_ts"])
             .withColumn("status", F.when(F.col("status") == "error", F.lit("error"))
                         .otherwise(classify_status("text")))),
            ("exact", lambda df: mark_exact_content_dups(df, "text", ["warc_ts", "url"])),
            ("neardup", near_dups),
        ])
        result = frames[-1]
        self.group("layer:counters")
        t0 = time.perf_counter()
        n = result.count()
        partition_counters(result)
        reason_histogram(result)
        spans["counters"] = time.perf_counter() - t0
        self.group("layer:append")
        spans["append"] = timed(lambda: table.append(result, lineage={"rows_written": n}))
        for df in frames:
            df.unpersist()
        run_dir = self.table_dir / table.current_snapshot()["data_dirs"][-1]
        run_bytes = _dir_bytes(run_dir)
        near = pq.read_table(run_dir, columns=["is_near_dup"]).column(0)
        k = self.kernel_sample()
        kernel_core_s = k["kernel.extract_us_per_page"] * self.rows_in / 1e6
        metrics = {
            "scan.wall_s": spans["scan"],
            **k,
            "kernel.core_s": kernel_core_s,
            "extraction.stage_s": spans["extraction"],
            "extraction.overhead_s": spans["extraction"] - kernel_core_s / cores,
            "dedup.keep_first_s": spans["keep_first"],
            "dedup.exact_s": spans["exact"],
            "neardup.s": spans["neardup"],
            "neardup.near_dup_rows": sum(bool(v) for v in near.to_pylist()),
            "snapshot.resume_filter_s": spans["resume_filter"],
            "snapshot.counters_s": spans["counters"],
            "snapshot.append_s": spans["append"],
            "snapshot.bytes_written": run_bytes,
            "snapshot.table_bytes_per_input_byte": run_bytes / self.input_bytes,
        }
        return {"metrics": metrics, "spans": spans}


class FullProcess(Job):
    """``queries_catalog.q_full_process_boundaries`` over the documents:
    chunk, localize, map chunks to pages, refine boundaries."""

    name = "full_process"
    sizes = {"full": (5000, 1000), "tiny": (200, 50)}
    layer_metrics = frozenset({
        "scan.wall_s", "scan.input_bytes", "chunking.s", "localization.s",
        "localization.hits_per_candidate", "boundaries.s",
    })

    def prepare(self, session) -> None:
        docs = inputs.documents_table(self.rows)
        self.docs_key = inputs.content_key("docs", self.rows)
        self.docs_dir = inputs.write_documents(docs, self.run_dir / "docs", self.seed)
        self.rows_in = docs.num_rows
        self.input_bytes = sum(len(t.encode()) for t in docs.column("text").to_pylist())
        entry = _load(self.root / "__spark_entry__.py", "_perfbench_entry")
        self.query = entry.queries()["full_process_boundaries"]
        self.oracle = entry.oracle_sql()["full_process_boundaries"]

    def reset(self) -> None:
        self.spark.catalog.clearCache()

    def run(self) -> None:
        df = self.query(self.spark, str(self.docs_dir))
        self.result = (df.columns, [tuple(r) for r in df.collect()])

    def run_failing(self) -> None:
        noop(self.query(self.spark, str(self.run_dir / "missing-input")))

    def _oracle(self, checker) -> tuple[list[str], int, str]:
        """Sorted columns, row count and value digest of the DuckDB oracle.
        The digest ignores row order, so it is cached by the corpus and the
        oracle text: the seed only reorders the rows."""
        import duckdb

        key = hashlib.sha256(
            (self.oracle + duckdb.__version__ + self.docs_key).encode()
        ).hexdigest()[:12]
        path = self.cache / f"oracle-full_process-{key}.json"
        if not path.exists():
            con = duckdb.connect()
            try:
                con.execute(
                    "CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.docs_dir / 'documents.parquet'}')"
                )
                rel = con.execute(self.oracle)
                cols = [d[0] for d in rel.description]
                rows = rel.fetchall()
            finally:
                con.close()
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(
                [sorted(cols), len(rows), checker.value_digest(rows, cols)]
            ))
        return tuple(json.loads(path.read_text()))

    def verify(self) -> dict:
        """The last run's rows against the DuckDB oracle: columns, row count
        and ``check_oracles.value_digest``."""
        checker = _load(self.root / "scripts" / "check_oracles.py", "_perfbench_oracles")
        cols, rows = self.result
        ok = self._oracle(checker) == (
            sorted(cols), len(rows), checker.value_digest(rows, cols)
        )
        return {"output_mismatches": 0 if ok else 1, "result_rows": len(rows)}

    def layers(self, cores: int) -> dict:
        """The steps of ``q_full_process_boundaries``; the last one ends in
        the job's own action (collect)."""
        from pyspark.sql import functions as F

        from ocr_parallel_spark import queries_catalog as qc
        from ocr_parallel_spark.fanout import fan_out
        from ocr_parallel_spark.operators.boundaries import (
            refine_pages_with_boundaries,
        )
        from ocr_parallel_spark.operators.chunking import overlap_chunks
        from ocr_parallel_spark.operators.classify import normalize_col
        from ocr_parallel_spark.operators.localization import localize

        spark = self.spark
        self.reset()
        targets = spark.createDataFrame(
            [(tid, toks, toks[0]) for tid, toks in qc.TARGETS],
            "target_id int, tokens array<string>, anchor string",
        )

        def localized(chunks):
            return localize(
                targets.select("target_id", "tokens"), chunks, "tokens", "chunk_text", 0.6
            )

        # The scan step is the catalog's document read: parquet scan,
        # fan-out and the normalized text column.
        docs = fan_out(
            spark.read.parquet(str(self.docs_dir / "documents.parquet"))
        ).withColumn("norm", normalize_col("text"))
        chunks = overlap_chunks(docs, "source", "doc_id", "norm", qc.TCHUNK, qc.TOVERLAP)
        cand = localized(chunks).select(
            "target_id", "source",
            F.explode(F.sequence("start_doc_id", "end_doc_id")).alias("doc_id"),
        ).distinct()
        boundaries = refine_pages_with_boundaries(
            cand,
            docs.select("doc_id", "source", "norm"),
            targets,
            qc.BOUNDARY_START_MARKERS,
            qc.BOUNDARY_END_AFTER,
            qc.BOUNDARY_END_BEFORE,
            page_join_cols=["doc_id", "source"],
        )
        # Past the shuffle by source, the engine runs all of these steps in
        # one stage, and a persisted boundary between two of them would add
        # stages the job does not run. So each span runs the query up to one
        # more step, and a layer's self time is its span minus the span
        # before it. The last step ends in the job's own action (collect).
        prefixes = {}
        for name, action in [
            ("scan", lambda: noop(docs)),
            ("chunking", lambda: noop(chunks)),
            ("localization", lambda: noop(cand)),
            ("boundaries", boundaries.collect),
        ]:
            self.group(f"layer:{name}")
            prefixes[name] = timed(action)
        spans, before = {}, 0.0
        for name, span in prefixes.items():
            spans[name], before = span - before, span
        if min(spans.values()) < 0:
            raise RuntimeError(f"negative layer increment: {prefixes}")
        self.group("layer:counts")
        n_chunks, n_hits = chunks.count(), localized(chunks).count()
        metrics = {
            "scan.wall_s": spans["scan"],
            "chunking.s": spans["chunking"],
            "localization.s": spans["localization"],
            "localization.hits_per_candidate": n_hits / (n_chunks * len(qc.TARGETS)),
            "boundaries.s": spans["boundaries"],
        }
        return {"metrics": metrics, "spans": spans}


def _load(path: pathlib.Path, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (ExtractHeavy, FullProcess)}
