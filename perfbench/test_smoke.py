"""Smoke test of the benchmark runner at a tiny scale.

    python3 -m pytest -q perfbench/test_smoke.py

Checks that the printed metric names match BENCHMARK.json in both modes,
that a traced run marks the layers it does not run as not applicable, that
an injected failed run is counted in ``failed`` (and so in the failed-run
share), and that outside a checkout the runner exits non-zero without
printing a result. Each case starts its own Spark sessions, so the
file takes about two minutes.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import subprocess
import sys

PERFBENCH = pathlib.Path(__file__).resolve().parent
ROOT = PERFBENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: pathlib.Path, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


def test_untraced_names_and_injected_failure():
    code, lines = _run(ROOT, "--workload", "extract_heavy", "--seconds", "0",
                       "--trace", "0", "--inject-failure")
    assert code == 0
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == _names("end_to_end")
    assert result["correct"] is True
    assert result["failed"] == 1 and result["attempted"] == 2
    assert detail["failed_run_share"] == 0.5
    assert detail["output_mismatches"] == 0
    assert detail["stamp"]["nproc"] >= 1 and detail["stamp"]["seed"] == 3


def test_traced_names():
    code, lines = _run(ROOT, "--workload", "full_process", "--seconds", "0",
                       "--trace", "1")
    assert code == 0
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result["metrics"]) == _names("per_layer")
    assert result["correct"] is True
    applicable = set(result["metrics"]) - set(detail["not_applicable"])
    layers = {"scan.wall_s", "chunking.s", "localization.s", "boundaries.s"}
    assert layers | {"trace.overhead_s", "stage.count"} <= applicable
    assert not any(n.startswith(("kernel.", "snapshot.")) for n in applicable)
    assert all(result["metrics"][n]["value"] > 0 for n in layers)


def test_fails_outside_a_checkout():
    bare = PERFBENCH / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(PERFBENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        code, lines = _run(bare, "--workload", "extract_heavy", "--seconds", "1",
                           "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
