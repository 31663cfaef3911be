"""Oracle gate: every ``queries()`` entry against its DuckDB
``oracle_sql()`` twin at sf0.001, on the suite's shared Spark session.

The DuckDB views and the value digest come from scripts/check_oracles.py,
imported rather than restated, so the pytest gate and the command-line
mirror compare the same things: column names, row count and the
order-insensitive value digest. Entries without an oracle twin only
have to run.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

import __spark_entry__ as entrymod

_spec = importlib.util.spec_from_file_location(
    "check_oracles",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "check_oracles.py",
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = check_oracles.connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    try:
        sdf = QUERIES[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    finally:
        # Some entries persist part of their plan (extraction_pipeline
        # does); a later test building the same plan would read that
        # cache and see a different physical plan.
        spark.catalog.clearCache()
    if name not in ORACLES:
        return
    rel = duck.execute(ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert check_oracles.value_digest(srows, scols) == check_oracles.value_digest(
        drows, dcols
    )
