"""ocr_parallel_spark — PySpark-native main-content extraction engine.

A from-scratch rebuild of the data-processing semantics of
srm-ftw/ocr-parallel (a FastAPI + Gemini per-page OCR service) as an
idiomatic Spark batch engine over Common-Crawl-style page tables:
DataFrame/SQL logical plans, one Arrow-batched extraction kernel
(mapInArrow), built-in expressions everywhere else, snapshot-committed
resumable writes. See SURVEY.md for the full blueprint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ocr_parallel_spark.config import SESSION_CONFS

__version__ = "0.1.0"


def get_spark(
    master: str | None = None,
    app_name: str = "ocr-parallel-spark",
) -> SparkSession:
    """Session with the engine's one profile, ``config.SESSION_CONFS``:
    the ``--conf`` set ``scripts/submit.py`` gives every job. Beyond it
    only deployment settings: master (default ``local[SPARK_GRAFT_CPUS]``,
    all cores when unset), app name, driver memory, no UI."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=dict(SESSION_CONFS))
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A constant frame of driver-side ``rows`` (tuples in the order of the
    DDL ``schema``), planned as a ``LocalTableScan``.

    ``spark.createDataFrame(<list>)`` parallelizes the rows as a Python
    RDD, so every scan of the frame (each broadcast of it, say) runs Python
    tasks, and each pays a Python task's start-up. The rows go to the JVM
    once as an Arrow table instead and become a ``LocalRelation``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
