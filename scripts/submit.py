#!/usr/bin/env python
"""Package + spark-submit entrypoint (north_star packaging requirement).

Builds the ``--py-files`` zip of ocr_parallel_spark and either prints the
spark-submit command (default) or runs it (``--run``). The command carries
the engine's session profile (``config.SESSION_CONFS``) as ``--conf`` pairs
and launches one job script; every argument this launcher does not own is
passed to that script unchanged and in order. The default job is
``scripts/job_extract.py`` — the production batch: read pages
parquet/Iceberg table -> extraction pipeline -> snapshot-committed output
with lineage, resumable. ``--job full-process`` submits
``scripts/job_full_process.py`` (the SURVEY §3.3 composite: chunk ->
localize -> boundary refine -> commit).

    python scripts/submit.py --input /data/pages --output /data/results \
        [--job full-process --targets t.csv] [--master spark://...] [--run]
"""

from __future__ import annotations

import argparse
import pathlib
import shlex
import subprocess
import sys
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ocr_parallel_spark.config import SESSION_CONFS  # noqa: E402

JOBS = ("extract", "full-process", "curate", "pack", "train-quality", "index")


def build_zip(dest: pathlib.Path) -> pathlib.Path:
    """Zip the package (source only) for --py-files shipping."""
    dest.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = REPO / "ocr_parallel_spark"
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    return dest


def main() -> None:
    ap = argparse.ArgumentParser(
        allow_abbrev=False,
        epilog="Every other argument is a job flag: it is forwarded to the "
        "job script unchanged and in order, and the script checks it. "
        "Job flags are documented by `python scripts/job_<name>.py --help` "
        "(e.g. job_full_process.py), which answers without starting Spark.",
    )
    ap.add_argument("--job", choices=JOBS, default="extract",
                    help="which batch job to submit")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--zip", default="/tmp/ocr_parallel_spark.zip",
                    help="where to write the --py-files package zip")
    ap.add_argument("--executor-memory", default="4g")
    ap.add_argument("--run", action="store_true", help="run spark-submit")
    args, job_args = ap.parse_known_args()

    zip_path = build_zip(pathlib.Path(args.zip))
    script = REPO / "scripts" / f"job_{args.job.replace('-', '_')}.py"
    cmd = [
        "spark-submit",
        "--master", args.master,
        "--py-files", str(zip_path),
        "--executor-memory", args.executor_memory,
        *(w for k, v in SESSION_CONFS for w in ("--conf", f"{k}={v}")),
        str(script),
        *job_args,
    ]
    print(shlex.join(cmd))
    if args.run:
        sys.exit(subprocess.run(cmd).returncode)


if __name__ == "__main__":
    main()
