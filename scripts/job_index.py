"""ANN index build/maintain batch job (spark-submit entrypoint) — the
build-once/query-many side of the similarity stack productionized:

- ``--kind ivf``: fit k-means centroids ONCE (first run or
  ``--rebuild``), persist them beside the snapshots, and commit
  (vec_id, cell) assignment rows; incremental runs RELOAD the pinned
  centroids (never refit — a refit would hand new rows a different
  cell geometry than the committed rows, the same consistency rule as
  job_curate's pinned BPE merge table) and append assignments for
  never-committed vectors only. This is the maintenance half of the
  stale-index contract in functions/similarity.py ``ivf_topk``: run it
  on the growing corpus and the inline-assignment remainder stays
  small.
- ``--kind lsh``: same shape for the multi-table sign-LSH index; the
  planes are derived from (dim, planes, tables, seed) constants, so
  there is nothing to pin beyond the parameters themselves (recorded
  in lineage, validated on resume — appending with DIFFERENT plane
  params would silently split the bucket space).
- ``--rebuild``: refit (ivf) / re-derive and OVERWRITE the whole index
  — the arbiter when the corpus has drifted far from the fitted
  geometry.

    spark-submit --py-files ocr_parallel_spark.zip scripts/job_index.py \
        --input /data/embeddings --output /data/ann_index --kind ivf \
        [--cells 256] [--rebuild]
"""

from __future__ import annotations

import argparse
import json
import os


IVF_CENTROIDS_FILE = "centroids.json"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="embeddings parquet (vec_id, embedding)")
    ap.add_argument("--output", required=True, help="index snapshot table root")
    ap.add_argument("--kind", choices=("ivf", "lsh"), default="ivf")
    ap.add_argument("--cells", type=int, default=256, help="ivf: k-means cell count")
    ap.add_argument("--dim", type=int, default=64, help="lsh: vector dimension")
    ap.add_argument("--planes", type=int, default=8, help="lsh: hyperplanes per table")
    ap.add_argument("--tables", type=int, default=8, help="lsh: hash tables")
    ap.add_argument(
        "--rebuild",
        action="store_true",
        help="refit the geometry and overwrite the whole index (the "
        "drift arbiter); without it, incremental runs append new "
        "vectors under the PINNED geometry",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ocr-parallel-spark-index").getOrCreate()

    from ocr_parallel_spark.functions.similarity import (
        build_ivf_index,
        build_lsh_index,
        kmeans_centroids,
    )
    from ocr_parallel_spark.io.snapshot import (
        SnapshotTable,
        commit_counted,
        run_resumable,
    )

    vectors = spark.read.parquet(args.input)
    table = SnapshotTable(args.output)
    cent_path = os.path.join(args.output, IVF_CENTROIDS_FILE)

    import hashlib

    def _geo_sha(cents) -> str:
        return hashlib.sha256(json.dumps(cents).encode()).hexdigest()[:16]

    if args.kind == "ivf":
        prior = table.current_snapshot()
        if os.path.exists(cent_path) and not args.rebuild:
            with open(cent_path) as fh:
                centroids = json.load(fh)
            lin = (prior or {}).get("lineage") or {}
            committed_cells = lin.get("cells")
            committed_sha = lin.get("centroids_sha")
            if (
                committed_cells is not None
                and committed_cells != len(centroids)
            ) or (
                # digest over the VALUES: a same-count refit must not
                # pass the guard (count alone would)
                committed_sha is not None
                and committed_sha != _geo_sha(centroids)
            ):
                raise SystemExit(
                    f"centroids file ({len(centroids)} cells, sha "
                    f"{_geo_sha(centroids)}) does not match the committed "
                    f"index (cells {committed_cells}, sha {committed_sha}); "
                    "the file was replaced after the fit — pass --rebuild "
                    "to refit and overwrite"
                )
        else:
            if prior is not None and not args.rebuild:
                # a refit here would hand new vectors a DIFFERENT cell
                # geometry than the committed assignments — refuse
                # rather than silently split the index
                raise SystemExit(
                    "committed ivf index exists but its centroids file "
                    f"({cent_path}) is missing; pass --rebuild to refit "
                    "and overwrite the whole index"
                )
            centroids = kmeans_centroids(vectors, n_cells=args.cells)
            os.makedirs(args.output, exist_ok=True)
            with open(cent_path, "w") as fh:
                json.dump(centroids, fh)

        def build(todo):
            return build_ivf_index(todo, centroids)

        lineage = {
            "kind": "ivf",
            "cells": len(centroids),
            "centroids_sha": _geo_sha(centroids),
        }
    else:
        prior = table.current_snapshot()
        params = {
            "kind": "lsh",
            "dim": args.dim,
            "planes": args.planes,
            "tables": args.tables,
        }
        if prior is not None and not args.rebuild:
            committed = {
                k: prior["lineage"].get(k) for k in ("dim", "planes", "tables")
            }
            if committed != {k: params[k] for k in ("dim", "planes", "tables")}:
                raise SystemExit(
                    f"lsh params {params} do not match the committed index "
                    f"{prior['lineage']}; pass --rebuild to re-derive"
                )

        def build(todo):
            return build_lsh_index(
                todo,
                dim=args.dim,
                n_planes=args.planes,
                n_tables=args.tables,
            )

        lineage = params

    if args.rebuild:
        snap = commit_counted(
            table, build(vectors), {**lineage, "mode": "rebuild"}, replace=True
        )
    else:
        snap = run_resumable(
            vectors, table, spark, build, key_col="vec_id", lineage=lineage
        )
    print(json.dumps(snap))
    spark.stop()


if __name__ == "__main__":
    main()
