"""Downsampling and climatological aggregations.

One hash aggregation each — Catalyst provides partial (map-side)
aggregation automatically, so these scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_from_hourly(
    df: DataFrame,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    date_col: str = "date",
) -> DataFrame:
    """Aggregate hourly→daily with per-variable semantics.

    Reference `util/util.py:374-414`: temp→mean/min/max, precip→sum,
    glob→mean, hum→mean/min/max, wind→mean, ssd→sum/60. Only columns
    present in ``df`` are produced. Single hash agg over
    (keys, to_date(ts)).
    """
    keys = list(keys)
    aggs = []
    cols = set(df.columns)
    if "temp" in cols:
        aggs += [
            F.avg("temp").alias("temp"),
            F.min("temp").alias("tmin"),
            F.max("temp").alias("tmax"),
        ]
    if "precip" in cols:
        aggs.append(F.sum("precip").alias("precip"))
    if "glob" in cols:
        aggs.append(F.avg("glob").alias("glob"))
    if "hum" in cols:
        aggs += [
            F.avg("hum").alias("hum"),
            F.min("hum").alias("hum_min"),
            F.max("hum").alias("hum_max"),
        ]
    if "wind" in cols:
        aggs.append(F.avg("wind").alias("wind"))
    if "ssd" in cols:
        aggs.append((F.sum("ssd") / F.lit(60.0)).alias("ssd"))
    if not aggs:
        raise ValueError("no known met columns in dataframe")
    return (
        df.groupBy(*keys, F.to_date(ts_col).alias(date_col))
        .agg(*aggs)
    )


def mean_daily_course_by_month(
    df: DataFrame,
    value_col: str,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    normalize: bool = False,
) -> DataFrame:
    """Mean diurnal course per (month, hour): the reference's 24×12
    matrix (`util/util.py:417-430`) in long form
    ``(keys..., month, hour, value)``.

    ``normalize=True`` min-max scales within each month (over its 24
    hourly means), as used for the temperature mean course
    (`stationstatistics.py:120-122`).
    """
    keys = list(keys)
    out = (
        df.groupBy(
            *keys,
            F.month(ts_col).alias("month"),
            F.hour(ts_col).alias("hour"),
        )
        .agg(F.avg(value_col).alias("value"))
    )
    if normalize:
        w = Window.partitionBy(*keys, "month")
        out = out.withColumn(
            "value",
            F.try_divide(
                F.col("value") - F.min("value").over(w),
                F.max("value").over(w) - F.min("value").over(w),
            ),
        )
    return out


def month_hour_precip_mean(
    df: DataFrame,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Categorical humidity means keyed (month, hour, wet-day).

    Reference `humidity.py:133-141`: a day is *wet* when its precip sum
    > 0; every hourly humidity value is grouped by (month, hour, wet).
    The day-level wet flag is a per-(station, date) window sum — no
    second scan, no join against a collected daily series.
    """
    keys = list(keys)
    wday = Window.partitionBy(*keys, F.to_date(ts_col))
    return (
        df.withColumn("__wet", F.sum("precip").over(wday) > 0)
        .groupBy(
            *keys,
            F.month(ts_col).alias("month"),
            F.hour(ts_col).alias("hour"),
            F.col("__wet").alias("wet"),
        )
        .agg(F.avg("hum").alias("hum_mean"))
    )
