#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation, one job at a time.

    python3 perfbench/run.py --workload extract_heavy --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a checkout. One ``local[nproc]`` session is started
with exactly the ``--conf`` set ``scripts/submit.py`` gives jobs, and the
workload's job runs once over a small warm-up input; ``setup_s`` is the
session start plus that warm-up job. Then the job runs in a closed loop with
one client over the timed input until ``--seconds`` have passed (at least
one run); ``job_wall_s`` is the median wall. Inputs are built before the
session and outputs are checked after each run, both untimed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
is the separate traced run: a session with Spark's event log on warms up the
same way, replays the job layer by layer (see ``workloads.py``), runs it
plainly, then detaches the event log and runs it plainly again. It reports
the per-layer metrics, the engine's own figures for the traced plain run,
the tracing overhead (traced wall minus untraced wall) and the layers' sum
over the untraced wall. A per-layer metric that does not apply to the
workload reads 0 and is listed under ``not_applicable`` in the detail line.

The last stdout line is the result object; the line before it is a detail
object stamped with the environment, every run's wall and foreign-CPU share,
and the correctness figures. Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

PERFBENCH = pathlib.Path(__file__).resolve().parent
ROOT = PERFBENCH.parent
WORK = PERFBENCH / ".work"
# Consecutive failed runs after which a run stops trying.
MAX_FAILED_RUNS = 3


def declared() -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` from
    BENCHMARK.json: the runner prints exactly these metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


def _stamp(args, cores: int, confs: dict, job) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": cores,
        "master": f"local[{cores}]",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_sha": sha,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "rows_in": job.rows_in,
        "input_bytes": job.input_bytes,
        "confs": confs,
    }


def _warm_up(job, warm, spark) -> None:
    job.spark = warm.spark = spark
    warm.group("warmup")
    warm.reset()
    warm.run()


def _timed_loop(job, warm, start, seconds: float, inject_failure: bool) -> dict:
    """Set up (session start and warm-up job), then a closed loop with one
    client: each run resets the output, runs the job and checks it."""
    from bench import ForeignCpuMeter
    from meter import PeakRss

    foreign, rss = ForeignCpuMeter(), PeakRss()
    walls, shares, mismatches = [], [], 0
    attempted = failed = failed_in_row = 0
    t0 = time.perf_counter()
    with start() as spark:
        _warm_up(job, warm, spark)
        setup_s = time.perf_counter() - t0
        begin = time.perf_counter()
        while failed_in_row < MAX_FAILED_RUNS and (
            not walls or time.perf_counter() - begin < seconds
        ):
            job.reset()
            run = job.run_failing if inject_failure and attempted == 0 else job.run
            attempted += 1
            snap = foreign.start()
            try:
                with rss:
                    t1 = time.perf_counter()
                    run()
                    walls.append(time.perf_counter() - t1)
            except Exception:  # a failed run is counted, never fatal
                traceback.print_exc(file=sys.stderr)
                failed += 1
                failed_in_row += 1
                continue
            shares.append(foreign.stop(snap))
            failed_in_row = 0
            check = job.verify()
            mismatches += check["output_mismatches"]
    if failed_in_row:
        raise RuntimeError(f"the last {failed_in_row} runs of the job failed")
    return {
        "setup_s": setup_s,
        "walls_s": walls,
        "foreign_cpu_share": shares,
        "attempted": attempted,
        "failed": failed,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "output_mismatches": mismatches,
        "failed_run_share": failed / attempted,
        "check": check,
    }


def _engine(log: dict, traced_wall: float) -> dict:
    """Engine figures of the traced plain run, and per layer group."""
    from eventlog import summarize

    plain = summarize(log, "plain")
    groups = {j["group"] for j in log["jobs"].values()}
    out = {
        "stage.count": plain["stages"],
        "stage.wall_s": plain["stage_wall_s"],
        "stage.executor_cpu_s": plain["executor_cpu_s"],
        "stage.gc_s": plain["gc_s"],
        "stage.shuffle_write_bytes": plain["shuffle_write_bytes"],
        "stage.spill_bytes": plain["spill_bytes"],
        "stage.task_p50_s": plain["task_p50_s"],
        "stage.task_max_s": plain["task_max_s"],
        "driver.jobs": plain["jobs"],
        "driver.plan_s": traced_wall - plain["job_s"],
        "scan.input_bytes": summarize(log, "layer:scan")["input_bytes"],
    }
    if "layer:extraction" in groups:
        out["extraction.tasks"] = summarize(log, "layer:extraction")["tasks"]
        out["dedup.shuffle_bytes"] = summarize(log, "layer:exact")["shuffle_write_bytes"]
        out["snapshot.spark_jobs"] = plain["jobs"]
    return out


def _traced(job, warm, start, cores: int, event_dir: pathlib.Path,
            names: dict[str, str]) -> tuple[dict, dict]:
    """Warm up, replay the job layer by layer, run it plainly with the event
    log on, then once more with it off. Both plain runs follow the replay;
    the untraced one is one run warmer, which the overhead includes."""
    from eventlog import find_log, parse
    from session import detach_event_log
    from workloads import timed

    with start() as spark:
        _warm_up(job, warm, spark)
        layers = job.layers(cores)
        job.reset()
        job.group("plain")
        traced_wall = timed(job.run)
        mismatches = job.verify()["output_mismatches"]
        detach_event_log(spark)
        job.reset()
        untraced_wall = timed(job.run)
        check = job.verify()
        mismatches += check["output_mismatches"]
        app_id = spark.sparkContext.applicationId
    log = parse(find_log(event_dir, app_id))
    spans = layers["spans"]
    metrics = {**layers["metrics"], **_engine(log, traced_wall)}
    if "error_row_share" in check:
        metrics["extraction.error_row_share"] = check["error_row_share"]
    layer_sum = sum(spans.values())
    metrics.update({
        "trace.plain_wall_s": untraced_wall,
        "trace.traced_wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.layers_sum_s": layer_sum,
        "trace.layers_over_wall": layer_sum / untraced_wall,
    })
    common = {n for n in names if n.split(".")[0] in ("stage", "driver", "trace")}
    expected = job.layer_metrics | common
    if set(metrics) != expected:
        raise RuntimeError(
            f"{job.name} traced metrics differ from the declared set: "
            f"{sorted(set(metrics) ^ expected)}"
        )
    # Spans measured apart cannot read below zero, and the workloads check
    # their increments; a derived layer time can: the kernel's core time
    # spread over the cores would then exceed the whole stage it runs in.
    if metrics.get("extraction.overhead_s", 0) < 0:
        raise RuntimeError(f"negative extraction overhead: {metrics}")
    not_applicable = sorted(set(names) - expected)
    metrics.update(dict.fromkeys(not_applicable, 0))
    detail = {
        "spans_s": spans,
        "output_mismatches": mismatches,
        "check": check,
        "layers_within_10pct": abs(metrics["trace.layers_over_wall"] - 1) <= 0.1,
        "not_applicable": not_applicable,
    }
    return metrics, detail


def measure(args, cores: int, confs: dict, run_dir: pathlib.Path,
            names: dict[str, str]) -> tuple[dict, dict]:
    from session import fresh_session
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    rows, warm_rows = cls.sizes[args.scale]
    job = cls(ROOT, run_dir / "job", args.seed, rows)
    warm = cls(ROOT, run_dir / "warm", args.seed, warm_rows)
    t0 = time.perf_counter()
    for w in (warm, job):
        w.prepare(lambda: fresh_session(cores, confs))
    detail = {"prepare_s": time.perf_counter() - t0}
    if args.trace:
        event_dir = run_dir / "events"
        metrics, traced = _traced(
            job, warm, lambda: fresh_session(cores, confs, event_dir),
            cores, event_dir, names,
        )
        detail.update(traced)
        return {"metrics": metrics, "attempted": 1, "failed": 0}, detail, job
    loop = _timed_loop(job, warm, lambda: fresh_session(cores, confs),
                       args.seconds, args.inject_failure)
    detail.update(loop)
    wall = statistics.median(loop["walls_s"])
    metrics = {
        "job_wall_s": wall,
        "pages_per_s": job.rows_in / wall,
        "setup_s": loop["setup_s"],
        "peak_rss_mb": loop["peak_rss_mb"],
    }
    return {"metrics": metrics, "attempted": loop["attempted"],
            "failed": loop["failed"]}, detail, job


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_heavy", "full_process"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke test")
    ap.add_argument("--inject-failure", action="store_true",
                    help="make the first timed run fail (smoke test)")
    args = ap.parse_args(argv)

    needed = ("ocr_parallel_spark/__init__.py", "scripts/submit.py", "bench.py",
              "scripts/check_oracles.py", "__spark_entry__.py", "BENCHMARK.json")
    missing = [n for n in needed if not (ROOT / n).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(PERFBENCH)]
    from session import sandbox_env, submit_confs

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    sandbox_env(ROOT, WORK)
    names = declared()["per_layer" if args.trace else "end_to_end"]
    try:
        confs = submit_confs(ROOT, run_dir)
        result, detail, job = measure(args, cores, confs, run_dir, names)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if set(result["metrics"]) != set(names):
        raise RuntimeError(
            "metrics differ from BENCHMARK.json: "
            f"{sorted(set(result['metrics']) ^ set(names))}"
        )
    print(json.dumps({"stamp": _stamp(args, cores, confs, job), **detail},
                     default=str))
    print(json.dumps({
        "correct": detail["output_mismatches"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            n: {"value": result["metrics"][n], "unit": unit}
            for n, unit in names.items()
        },
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
