"""Shared Spark session for the test suite: local[4] with the engine's one
profile (``config.SESSION_CONFS``), the confs every submitted job runs under."""

from __future__ import annotations

import pytest

from ocr_parallel_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="ocr-parallel-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
