"""The benchmark's Spark session: the job profile of ``scripts/submit.py``.

``submit_confs`` reads the ``--conf`` pairs from the spark-submit command
that ``scripts/submit.py`` prints, so the session measures exactly what
``job_extract`` runs under. ``fresh_session`` starts ``local[N]`` with those
confs and nothing else, except the event log in traced runs, in a JVM of
its own, and stops that JVM on exit. ``detach_event_log`` turns the
event log off inside a traced session. Scratch space
(Spark local dirs, Python and JVM temp files) is pointed inside the
benchmark's work directory through the environment, which leaves the conf
set untouched.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import pathlib
import subprocess
import sys


def submit_confs(repo: pathlib.Path, work: pathlib.Path) -> dict[str, str]:
    """The ``--conf`` key/value pairs ``scripts/submit.py`` passes to jobs."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_submit", repo / "scripts" / "submit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv = sys.argv
    out = io.StringIO()
    sys.argv = [
        "submit.py", "--input", "in", "--output", "out",
        "--zip", str(work / "submit.zip"),
    ]
    try:
        with contextlib.redirect_stdout(out):
            mod.main()
    finally:
        sys.argv = argv
    words = out.getvalue().split()
    confs = {}
    for flag, value in zip(words, words[1:]):
        if flag == "--conf":
            key, _, val = value.partition("=")
            confs[key] = val
    if not confs:
        raise RuntimeError("scripts/submit.py printed no --conf pairs")
    return confs


def sandbox_env(repo: pathlib.Path, work: pathlib.Path) -> None:
    """Keep Spark's and Python's scratch files inside ``work`` and let the
    Python workers import the package from ``repo``. Must run before the
    JVM starts; the JVM and its workers inherit the environment."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(repo), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)


@contextlib.contextmanager
def fresh_session(
    cores: int, confs: dict[str, str], event_dir: pathlib.Path | None = None
):
    """``local[cores]`` with the job confs (plus the event log), in a new
    JVM that is stopped, with its Python workers, on exit."""
    try:
        yield _build_session(cores, confs, event_dir)
    finally:
        _stop_jvm()


def _build_session(
    cores: int, confs: dict[str, str], event_dir: pathlib.Path | None
):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(f"local[{cores}]").appName(
        "perfbench"
    )
    for key, val in confs.items():
        builder = builder.config(key, val)
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(event_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def detach_event_log(spark) -> None:
    """Stop writing the event log for the rest of the session: the event
    logger leaves the listener bus (its file is still closed on stop), so
    the next runs are timed with tracing off in the same JVM."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger()
    if not logger.isDefined():
        raise RuntimeError("the session has no event log to detach")
    sc.removeSparkListener(logger.get())


def _stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active session and the JVM pyspark launched for it, and
    wait until the JVM (and the Python workers it forked) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # The JVM exits when its stdin pipe closes.
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
