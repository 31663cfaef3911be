"""Snapshot-committed, resumable table writes (SURVEY §7.2 step 5).

The production design is an Iceberg table partitioned by ``bucket(N, url)``
with commits as snapshots and resume = anti-join against the last committed
snapshot. The Iceberg runtime jar is not in this sandbox, so the same
semantics are implemented over parquet + a JSON manifest directory behind
one IO interface:

- Each run writes its data files under ``data/run-<run_id>/`` (parquet).
- Commit = write ``_manifests/snapshot-<n>.json`` listing every live data
  directory, then atomically rename a ``_manifests/CURRENT.tmp`` pointer to
  ``_manifests/CURRENT``. Readers only ever see the pointed-at snapshot —
  never a partial write (the reference's file-existence poll,
  /root/reference/app/api/endpoints/full_process.py:136-145, is exactly the
  race this replaces; X9/S2 completion semantics become snapshot commits).
- Resume = read committed keys, anti-join the source, process the rest,
  commit a new snapshot appending the new run directory.
- Lineage: every snapshot records the run's counters (rows written,
  pages extracted, errors in total and by ``error_type``, exact/near
  dups, chars out) + per-run config, mirroring A1/A5 metrics
  persistence. The counters come from a ``pyspark.sql.Observation`` on
  the write itself (``commit_counted``): the result is computed once, by
  the pass that writes it, never persisted and re-counted.

Run ids derive from the snapshot ordinal — no uuid/wall-clock (determinism
rule; reference used uuid4 at full_process.py:34-36).
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ocr_parallel_spark.kernel.extract import ERROR_TYPES


class SnapshotTable:
    def __init__(self, path: str):
        self.root = pathlib.Path(path)
        self.manifest_dir = self.root / "_manifests"

    # ---- read side ----------------------------------------------------------

    def current_snapshot(self) -> dict | None:
        cur = self.manifest_dir / "CURRENT"
        if not cur.exists():
            return None
        name = cur.read_text().strip()
        return json.loads((self.manifest_dir / name).read_text())

    def snapshot_at(self, ordinal: int) -> dict | None:
        """The manifest of a past commit (None if there is none).
        Snapshots are immutable, so an ordinal's manifest never changes."""
        p = self.manifest_dir / f"snapshot-{ordinal:06d}.json"
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Read the committed table state (union of live data dirs).

        ``mergeSchema``: runs may carry evolved schemas (an added column
        — Iceberg's most-used schema evolution); the union reconciles by
        NAME and earlier runs read the new column as NULL, exactly
        Iceberg's add-column semantics. (Column RENAMES need id-based
        mapping — real Iceberg territory; documented out of scope for the
        parquet+manifest fallback.) mergeSchema launches a distributed
        all-file footer-merge job before the scan, so it is requested
        only when the per-run manifests record DIFFERENT column lists —
        the common case (hundreds of same-schema runs, e.g. the resume
        path's read-at-every-job-start) plans from one footer. Each run
        dir is named by its committing ordinal, whose manifest carries
        that run's columns; a dir whose manifest is missing falls back
        to merging (safe, just slower). Same-name type changes are out
        of scope for this fallback, like renames."""
        snap = self.current_snapshot()
        if snap is None or not snap["data_dirs"]:
            return None
        paths = [str(self.root / d) for d in snap["data_dirs"]]
        reader = spark.read
        if len(paths) > 1 and self._schemas_differ(snap["data_dirs"]):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def read_increment(
        self, spark: SparkSession, since_ordinal: int
    ) -> DataFrame | None:
        """Iceberg incremental-scan analog: ONLY the rows appended after
        ``since_ordinal`` up to the current snapshot. Because appends
        never rewrite data dirs, the increment is exactly the file-set
        difference of the two manifests — a downstream consumer (extract
        output feeding curation, verdicts feeding packing) processes each
        commit's delta without scanning the accumulated table or
        anti-joining keys: at 10^12 committed rows the anti-join resume
        shuffles the key column of the WHOLE table every run, while the
        incremental read plans only the new files.

        Raises ValueError when the lineage since ``since_ordinal`` is
        not append-only (an overwrite/recompute replaced the layout —
        ``since``'s dirs are no longer a subset of the current ones):
        "what's new" stops being a file-level question there, and the
        caller must fall back to a full read (+ key anti-join if it needs
        exactly-once). Iceberg's incremental scan has the same contract.
        Returns None when no rows were appended."""
        until = self.current_snapshot()
        since = self.snapshot_at(since_ordinal)
        if since is None or until is None:
            raise ValueError(
                f"read_increment: missing snapshot (since={since_ordinal})"
            )
        since_set = set(since["data_dirs"])
        if not since_set <= set(until["data_dirs"]):
            raise ValueError(
                "read_increment: non-append lineage between ordinals "
                f"{since['ordinal']} and {until['ordinal']} (an overwrite "
                "rewrote the layout); fall back to read()"
            )
        new_dirs = [d for d in until["data_dirs"] if d not in since_set]
        if not new_dirs:
            return None
        paths = [str(self.root / d) for d in new_dirs]
        reader = spark.read
        if len(new_dirs) > 1 and self._schemas_differ(new_dirs):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def _schemas_differ(self, data_dirs: list[str]) -> bool:
        """True when the live runs committed different column lists (or
        any run's manifest is unreadable — merge is the safe default)."""
        seen: set[tuple[str, ...]] = set()
        for d in data_dirs:
            try:
                committed = self.snapshot_at(int(d.rsplit("-", 1)[1]))
            except (ValueError, json.JSONDecodeError):
                return True
            if committed is None or "columns" not in committed:
                return True
            seen.add(tuple(committed["columns"]))
            if len(seen) > 1:
                return True
        return False

    def committed_keys(self, spark: SparkSession, key_col: str) -> DataFrame | None:
        df = self.read(spark)
        return None if df is None else df.select(key_col).distinct()

    # ---- write side ---------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        lineage: dict | None = None,
    ) -> dict:
        """Write ``df`` as a new run directory and commit a snapshot that
        appends it to the live set. Data lands fully before the manifest
        pointer flips — crash mid-write leaves the table at the previous
        snapshot."""
        return self.commit_run(self.write_run(df), df.columns, lineage)

    def overwrite(self, df: DataFrame, lineage: dict | None = None) -> dict:
        return self.commit_run(
            self.write_run(df), df.columns, lineage, replace=True
        )

    def write_run(self, df: DataFrame) -> str:
        """Write ``df`` as the next ordinal's run directory, uncommitted:
        readers keep seeing the current snapshot until ``commit_run``.
        Returns the directory relative to the table root."""
        prior = self.current_snapshot()
        ordinal = (prior["ordinal"] + 1) if prior else 0
        run_dir = f"data/run-{ordinal:06d}"
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        df.write.mode("errorifexists").parquet(str(self.root / run_dir))
        return run_dir

    def commit_run(
        self,
        run_dir: str,
        columns: list[str],
        lineage: dict | None = None,
        replace: bool = False,
    ) -> dict:
        """Commit a snapshot whose live set is the current one plus
        ``run_dir`` (``replace``: just ``run_dir``)."""
        prior = self.current_snapshot()
        kept = [] if replace or prior is None else prior["data_dirs"]
        snap = {
            "ordinal": int(run_dir.rsplit("-", 1)[1]),
            "data_dirs": kept + [run_dir],
            # schema as committed THIS run (Iceberg records schema per
            # snapshot; read() merges schemas only when these differ)
            "columns": list(columns),
            "lineage": lineage or {},
        }
        self._commit(snap)
        return snap

    def _commit(self, snap: dict) -> None:
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        name = f"snapshot-{snap['ordinal']:06d}.json"
        (self.manifest_dir / name).write_text(json.dumps(snap, indent=1))
        tmp = self.manifest_dir / "CURRENT.tmp"
        tmp.write_text(name)
        os.replace(tmp, self.manifest_dir / "CURRENT")  # atomic pointer flip


def resume_filter(
    source: DataFrame, table: SnapshotTable, spark: SparkSession, key_col: str = "url"
) -> DataFrame:
    """Anti-join the source against already-committed keys: only
    never-processed documents flow into the run. At scale both sides hash
    on the same key; with bucketed storage this is exchange-free."""
    done = table.committed_keys(spark, key_col)
    if done is None:
        return source
    return source.join(done, key_col, "left_anti")


def partition_counters(df: DataFrame) -> list[dict]:
    """The lineage counters (``_run_counters``) per physical partition.
    Not on the commit path, which counts the write itself: this is one
    extra job over ``df``, only worth it over an already-persisted
    frame."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*_run_counters(df.columns))
        .collect()
    )
    return [r.asDict() for r in sorted(rows, key=lambda r: r.partition_id)]


def reason_histogram(df: DataFrame) -> dict | None:
    """Drop-reason histogram for lineage (None when the table carries
    no ``drop_reason`` column). Bounded driver materialization: one row
    per distinct reason — a fixed enum in every producer."""
    if "drop_reason" not in df.columns:
        return None
    rows = (
        df.groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("r"))
        .count()
        .collect()
    )
    return {r.r: r["count"] for r in sorted(rows, key=lambda r: r.r)}


def _run_counters(columns: list[str]) -> list:
    """The lineage counters, as aggregates over the rows being written;
    each applies only when the result has its column."""
    cols = set(columns)
    aggs = [F.count(F.lit(1)).alias("rows_written")]
    if "status" in cols:
        aggs.append(
            F.count(F.when(F.col("status") == "found", 1)).alias("pages_extracted")
        )
        aggs.append(F.count(F.when(F.col("status") == "error", 1)).alias("errors"))
    if "error_type" in cols:
        aggs.extend(
            F.count(F.when(F.col("error_type") == t, 1)).alias(
                f"errors_{t.lower()}"
            )
            for t in ERROR_TYPES
        )
    if "is_exact_dup" in cols:
        aggs.append(F.count(F.when(F.col("is_exact_dup"), 1)).alias("exact_dups"))
    if "is_near_dup" in cols:
        aggs.append(F.count(F.when(F.col("is_near_dup"), 1)).alias("near_dups"))
    if "n_chars_out" in cols:
        aggs.append(F.sum("n_chars_out").alias("chars_out"))
    return aggs


def commit_counted(
    table: SnapshotTable,
    result: DataFrame,
    lineage: dict | None = None,
    replace: bool = False,
) -> dict:
    """Write ``result`` once and commit it with its counters in lineage.

    The counters ride the write as a ``pyspark.sql.Observation``, so the
    result is computed exactly once and never persisted. The pointer
    flips only after the data and counters are in. An append that wrote
    no rows commits nothing: its empty run directory is removed and a
    ``noop`` dict comes back. A ``replace`` (overwrite) always commits.
    Tables with a ``drop_reason`` column also get the ``reasons``
    histogram, read back from the one column of the run just written."""
    obs = Observation("snapshot_commit")
    run_dir = table.write_run(result.observe(obs, *_run_counters(result.columns)))
    info = dict(lineage or {})
    info.update(obs.get)
    if info["rows_written"] == 0 and not replace:
        shutil.rmtree(table.root / run_dir)
        prior = table.current_snapshot()
        return {
            "ordinal": prior["ordinal"] if prior else -1,
            "noop": True,
            "lineage": info,
        }
    if "drop_reason" in result.columns:
        # the curation datasheet: every run's verdict breakdown rides
        # its snapshot (the A1/A5 metrics-persistence shape)
        info["reasons"] = reason_histogram(
            result.sparkSession.read.parquet(str(table.root / run_dir))
            .select("drop_reason")
        )
    return table.commit_run(run_dir, result.columns, info, replace=replace)


def run_resumable(
    source: DataFrame,
    table: SnapshotTable,
    spark: SparkSession,
    transform,
    key_col: str = "url",
    lineage: dict | None = None,
) -> dict:
    """One resumable batch step: filter out committed keys, apply the
    pipeline ``transform``, append + commit through ``commit_counted``.
    Returns the snapshot dict, whose lineage carries ``rows_written`` and
    the run's counters; a run with nothing new returns a ``noop`` dict
    and leaves the table as it was."""
    todo = resume_filter(source, table, spark, key_col)
    return commit_counted(table, transform(todo), lineage)
