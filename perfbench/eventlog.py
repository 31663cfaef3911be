"""Read Spark's own event log: per-job and per-stage timings and sizes.

The traced run enables ``spark.eventLog`` (uncompressed) and, after the
session stops, this module folds the log into job and stage records. A job
carries the description the benchmark set with ``setJobGroup`` so stages
can be attributed to the layer call that launched them.
"""

from __future__ import annotations

import json
import pathlib
import statistics


def find_log(event_dir: pathlib.Path, app_id: str) -> pathlib.Path:
    for path in sorted(event_dir.iterdir()):
        if app_id in path.name and path.is_file() and not path.name.endswith(
            ".inprogress"
        ):
            return path
    raise FileNotFoundError(f"no finished event log for {app_id} in {event_dir}")


def _metric(task_metrics: dict, *names: str) -> float:
    val = task_metrics
    for name in names:
        val = val.get(name, 0) if isinstance(val, dict) else 0
    return float(val or 0)


def parse(path: pathlib.Path) -> dict:
    """Return ``{"jobs": {id: job}, "stages": {id: stage}}``.

    job: group, start_ms, end_ms.
    stage: job_id, wall_s, tasks, executor_cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes, input_bytes, task_p50_s, task_max_s.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_walls: dict[int, list[float]] = {}
    job_of_stage: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "start_ms": ev["Submission Time"],
                    "end_ms": ev["Submission Time"],
                }
                for sid in ev.get("Stage IDs", []):
                    job_of_stage[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, _empty_stage())
                task_walls.setdefault(sid, []).append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                )
                st["executor_cpu_s"] += _metric(m, "Executor CPU Time") / 1e9
                st["gc_s"] += _metric(m, "JVM GC Time") / 1e3
                st["shuffle_write_bytes"] += _metric(
                    m, "Shuffle Write Metrics", "Shuffle Bytes Written"
                )
                st["spill_bytes"] += _metric(m, "Disk Bytes Spilled") + _metric(
                    m, "Memory Bytes Spilled"
                )
                st["input_bytes"] += _metric(m, "Input Metrics", "Bytes Read")
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(sid, _empty_stage())
                sub, done = si.get("Submission Time"), si.get("Completion Time")
                st["wall_s"] = (done - sub) / 1e3 if sub and done else 0.0
                st["tasks"] = si.get("Number of Tasks", 0)
    for sid, st in stages.items():
        walls = task_walls.get(sid) or [0.0]
        st["task_p50_s"] = statistics.median(walls)
        st["task_max_s"] = max(walls)
        st["job_id"] = job_of_stage.get(sid, -1)
    return {"jobs": jobs, "stages": stages}


def _empty_stage() -> dict:
    return {
        "wall_s": 0.0,
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0.0,
        "spill_bytes": 0.0,
        "input_bytes": 0.0,
    }


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals (seconds in, out)."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def summarize(log: dict, group: str) -> dict:
    """Engine totals over the jobs of one job group."""
    jobs = [j for j in log["jobs"].values() if j["group"] == group]
    job_ids = {jid for jid, j in log["jobs"].items() if j["group"] == group}
    sts = [s for s in log["stages"].values() if s["job_id"] in job_ids and s["tasks"]]
    task_p50 = [s["task_p50_s"] for s in sts] or [0.0]
    return {
        "jobs": len(jobs),
        "job_s": union_s([(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]),
        "stages": len(sts),
        "tasks": sum(s["tasks"] for s in sts),
        "stage_wall_s": sum(s["wall_s"] for s in sts),
        "executor_cpu_s": sum(s["executor_cpu_s"] for s in sts),
        "gc_s": sum(s["gc_s"] for s in sts),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in sts),
        "spill_bytes": sum(s["spill_bytes"] for s in sts),
        "input_bytes": sum(s["input_bytes"] for s in sts),
        "task_p50_s": statistics.median(task_p50),
        "task_max_s": max(s["task_max_s"] for s in sts) if sts else 0.0,
    }
