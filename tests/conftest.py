"""Shared Spark session for the test suite: local[4] with the engine's one
profile (``config.SESSION_CONFS``), the confs every submitted job runs under."""

from __future__ import annotations

import threading

import pytest

from ocr_parallel_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Per-test wall limit for tests on the shared session. The slowest test
# takes about 20 s on 4 cores. A test still running at the limit has its
# Spark jobs cancelled and fails, so one stuck job costs the suite this
# long instead of the whole run's time budget.
TEST_TIME_LIMIT_S = 300


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="ocr-parallel-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _time_limit(request):
    """Cancel the session's jobs from a watchdog thread once the test has
    run ``TEST_TIME_LIMIT_S``: the blocked action then raises in the test,
    and the test fails here even if it caught that error."""
    if "spark" not in request.fixturenames:
        yield
        return
    sc = request.getfixturevalue("spark").sparkContext
    fired = threading.Event()

    def cancel():
        fired.set()
        sc.cancelAllJobs()

    timer = threading.Timer(TEST_TIME_LIMIT_S, cancel)
    timer.daemon = True
    timer.start()
    try:
        yield
    finally:
        timer.cancel()
    if fired.is_set():
        pytest.fail(
            f"ran over {TEST_TIME_LIMIT_S} s; its Spark jobs were cancelled"
        )
