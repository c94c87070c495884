"""Execution-shape helpers shared by the operators and sinks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list)`` plans a Python-RDD scan
    (``LogicalRDD``): every scan of it, e.g. each broadcast of a stored
    parameter table, starts Python-worker tasks. Built from Arrow, the
    rows live in the plan itself and scan without Python. ``schema``
    fixes every column's type, so ``1`` and ``0.5`` in one double
    column load as doubles and a missing or ``None`` value stays null.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)
