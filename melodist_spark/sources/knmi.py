"""KNMI hourly observation files.

Reference: `data_io.py:310-383`. CSV with 31 header lines, timestamp
built from YYYYMMDD + (HH-1) then shifted +1 h (KNMI hours are 1..24),
fixed unit conversions, negative precipitation clamped to 0. A whole
directory of station files becomes ONE distributed scan via a glob
path — the reference's per-file concat loop disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_knmi(spark: SparkSession, path: str) -> DataFrame:
    """Read KNMI hourly file(s); ``path`` may be a single file or a
    glob (``dir/*.txt``) — Spark unions the matching files natively
    (`data_io.py:356-383`).

    Returns DataFrame(station_id, ts, temp, precip, glob, hum, wind, ssd).
    """
    raw = (
        spark.read.option("skipRows", 31)
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", True)
        .csv(path)
    )
    cols = {c.strip().replace("# ", ""): c for c in raw.columns}

    def col(name):
        return F.col(cols[name]).cast("double")

    # KNMI HH runs 1..24; the reference builds HH-1 then adds 1 h
    # (`data_io.py:323-334`) — net effect: day start + HH hours
    ts = F.to_timestamp(F.col(cols["YYYYMMDD"]).cast("string"), "yyyyMMdd") + F.make_interval(
        hours=F.col(cols["HH"]).cast("int")
    )

    out = raw.select(
        F.col(cols["STN"]).cast("string").alias("station_id"),
        ts.alias("ts"),
        (col("T") / 10 + 273.15).alias("temp"),
        (col("RH") / 10).alias("precip"),
        (col("Q") * 10000 / 3600.0).alias("glob"),
        col("U").alias("hum"),
        (col("FH") / 10).alias("wind"),
        (col("SQ") * 6).alias("ssd"),
    )
    # clamp negative precip (−0.1 = trace marker) (`data_io.py:350-353`)
    return out.withColumn(
        "precip", F.when(F.col("precip") < 0, 0.0).otherwise(F.col("precip"))
    )
