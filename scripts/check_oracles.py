"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value digest (columns sorted by name, rows sorted,
floats pre-rounded by the queries themselves). Usage:

    python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def connect(sf_dir):
    """DuckDB connection with one view per ``TABLES`` parquet file."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def value_digest(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted(
        tuple(_canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(("\x1f".join(row) + "\x1e").encode("utf-8"))
    return h.hexdigest()


def _canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 6))
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from ocr_parallel_spark import get_spark

    spark = get_spark(master="local[8]", app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = connect(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = value_digest([tuple(r) for r in srows], scols)
            dh = value_digest(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                _show_diff(srows, scols, drows, dcols)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def _show_diff(srows, scols, drows, dcols, limit=3):
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = {tuple(_canon(r[i]) for i in so) for r in srows}
    dset = {tuple(_canon(r[i]) for i in do) for r in drows}
    for r in list(sset - dset)[:limit]:
        print(f"    spark-only: {r}")
    for r in list(dset - sset)[:limit]:
        print(f"    duck-only:  {r}")


if __name__ == "__main__":
    raise SystemExit(main())
