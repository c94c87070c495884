"""Execution-shape helpers shared by the operators and sinks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def pin_partitions(df: DataFrame, cols) -> DataFrame:
    """Hash-repartition by ``cols`` into the session's
    ``spark.sql.shuffle.partitions``, an EXPLICIT partition count.

    AQE's ``coalescePartitions`` sizes post-shuffle partitions by
    *bytes*, which is the wrong signal in front of a compute-bound
    grouped map: a kernel that expands or iterates far beyond its
    byte-small input is serialized onto a single task once AQE folds
    the shuffle into one partition. An explicit
    ``repartition(n, cols)`` is a REPARTITION_BY_NUM exchange, which
    AQE is contractually not allowed to coalesce, and its
    HashPartitioning satisfies the downstream ``groupBy(cols)``
    distribution, so no second exchange is inserted.

    That count is exactly the pre-AQE plan. On byte-heavy inputs
    (cluster scale) it is what the shuffle would have used anyway, so
    pinning is never a regression; it only matters when the input is
    small and the kernel is not.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) if isinstance(c, str) else c for c in cols])


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
