"""Humidity disaggregation (daily → hourly).

Reference: `humidity.py:28-141`. All six methods are pure column
expressions over the hourly explode plus (for the dewpoint family) a
co-partitioned join with the hourly temperature series and broadcast
joins with tiny parameter tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from melodist_spark.functions.meteo import dewpoint_temperature, vapor_pressure
from melodist_spark.util.calendar import hourly_calendar
from melodist_spark.util.ols import linregress_agg

METHODS = (
    "equal",
    "minimal",
    "dewpoint_regression",
    "min_max",
    "linear_dewpoint_variation",
    "month_hour_precip_mean",
)

PI = 3.141592653589793


def disaggregate_humidity(
    daily: DataFrame,
    method: str = "equal",
    hourly_temp: DataFrame | None = None,
    hum_params: DataFrame | None = None,
    month_hour_precip_mean: DataFrame | None = None,
    preserve_daily_mean: bool = False,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
    temp_disagg: dict | None = None,
) -> DataFrame:
    """Disaggregate daily humidity to hourly relative humidity [%].

    Args mirror `humidity.py:28-59`:

    - ``hourly_temp``: (keys..., ts, temp) hourly temperature — required
      by the dewpoint-family and min_max methods when ``temp_disagg``
      is not given. NOTE: this joins two hourly-grain tables (a full
      shuffle of the temperature series at fleet scale); prefer
      ``temp_disagg`` when the temperature comes from our own
      disaggregation.
    - ``temp_disagg``: kwargs for
      :func:`~melodist_spark.operators.temperature.disaggregate_temperature`
      (e.g. ``{"method": "sine_min_max", "min_max_time": "fix"}``).
      The temperature is then computed INLINE on the same exploded
      hourly calendar as the humidity — one explode, no hourly×hourly
      join, lineage stays co-partitioned (the plan's only exchanges
      are the daily-grain window and broadcasts).
    - ``hum_params``: (keys..., a0, a1, kr) dewpoint regression
      parameters per station
    - ``month_hour_precip_mean``: (keys..., month, hour, wet, hum_mean)
    - ``preserve_daily_mean``: subtract the daily bias of the
      disaggregated series (`humidity.py:112-118`)

    Result is clipped to [0, 100] (`humidity.py:120`).
    """
    if method not in METHODS:
        raise ValueError("Invalid option")
    keys = list(keys)

    daily_cols = [c for c in ("hum", "tmin", "tmax", "hum_min", "hum_max", "precip") if c in daily.columns]
    dew_family = method in (
        "minimal", "dewpoint_regression", "linear_dewpoint_variation"
    )
    fused = temp_disagg is not None and (dew_family or method == "min_max")

    # --- daily-grain prep: everything that is constant within a day is
    # computed BEFORE the hourly explode (dewpoint from the regression,
    # next-day dewpoint via a daily window) so neither mode needs an
    # hourly-grain re-aggregation or join for it -----------------------
    prep = daily
    prep_cols = list(daily_cols)
    if dew_family:
        if method == "minimal":
            # a0=0, a1=1 (`humidity.py:64-66`)
            prep = prep.withColumn("tdew", F.col("tmin"))
        else:
            if hum_params is None:
                raise ValueError("hum_params (a0, a1, kr) required")
            prep = prep.join(F.broadcast(hum_params), keys, "left")
            prep = prep.withColumn("tdew", F.col("a0") + F.col("a1") * F.col("tmin"))
        prep_cols.append("tdew")
        if method == "linear_dewpoint_variation":
            # next-day daily tdew, last day copies itself
            # (`humidity.py:80-81`)
            wd = Window.partitionBy(*keys).orderBy(date_col)
            prep = prep.withColumn(
                "tdew_next",
                F.coalesce(F.lead("tdew", 1).over(wd), F.col("tdew")),
            )
            prep_cols += ["tdew_next", "kr"]

    if fused:
        if hourly_temp is not None:
            raise ValueError("pass either hourly_temp or temp_disagg")
        from melodist_spark.operators.temperature import disaggregate_temperature

        base = disaggregate_temperature(
            prep,
            keys=keys,
            date_col=date_col,
            ts_col=ts_col,
            extra_cols=[date_col, *prep_cols],
            **temp_disagg,
        )
    else:
        base = hourly_calendar(
            prep.select(*keys, date_col, *prep_cols), date_col=date_col, ts_col=ts_col
        )

    if method == "equal":
        out = base.withColumn("hum_disagg", F.col("hum"))

    elif dew_family:
        if not fused and hourly_temp is None:
            raise ValueError("hourly temperature required")
        if method == "linear_dewpoint_variation":
            base = base.withColumn(
                "tdew",
                linear_dewpoint(
                    F.col("tdew"), F.col("tdew_next"), F.col("kr"), F.hour(ts_col)
                ),
            )

        if fused:
            joined = base  # temp computed on this same exploded calendar
        else:
            joined = base.join(
                hourly_temp.select(*keys, ts_col, "temp"), [*keys, ts_col]
            )
        out = joined.withColumn(
            "hum_disagg", rh_from_dewpoint(F.col("tdew"), F.col("temp"))
        )

    elif method == "min_max":
        if "hum_min" not in daily.columns or "hum_max" not in daily.columns:
            raise ValueError(
                "Minimum and maximum humidity must be present in data frame"
            )
        if not fused and hourly_temp is None:
            raise ValueError("hourly temperature required")
        if fused:
            joined = base
        else:
            joined = base.join(
                hourly_temp.select(*keys, ts_col, "temp"), [*keys, ts_col]
            )
        out = joined.withColumn(
            "hum_disagg",
            min_max_rh(*(F.col(c) for c in ("temp", "tmin", "tmax", "hum_min", "hum_max"))),
        )

    elif method == "month_hour_precip_mean":
        if month_hour_precip_mean is None:
            raise ValueError("month_hour_precip_mean table required")
        # the day's wet flag is just daily precip > 0 (`humidity.py:105-110`)
        out = (
            base.withColumns(
                {
                    "wet": F.col("precip") > 0,
                    "month": F.month(ts_col),
                    "hour": F.hour(ts_col),
                }
            )
            .join(
                F.broadcast(month_hour_precip_mean),
                [*keys, "month", "hour", "wet"],
                "left",
            )
            .withColumn("hum_disagg", F.col("hum_mean"))
        )

    if preserve_daily_mean:
        wd = Window.partitionBy(*keys, F.to_date(ts_col))
        bias = F.avg("hum_disagg").over(wd) - F.col("hum")
        out = out.withColumn(
            "hum_disagg", F.col("hum_disagg") - F.coalesce(bias, F.lit(0.0))
        )

    return out.select(*keys, ts_col, clip_rh(F.col("hum_disagg")).alias("hum"))


# -- per-hour formula builders: Columns in, Column out ------------------


def rh_from_dewpoint(tdew: Column, temp: Column) -> Column:
    """Relative humidity [%] as the saturation vapor-pressure ratio of
    dewpoint to air temperature — the dewpoint family's last step
    (`humidity.py:63-86`)."""
    return 100.0 * vapor_pressure(tdew, 100.0) / vapor_pressure(temp, 100.0)


def min_max_rh(
    temp: Column, tmin: Column, tmax: Column, hum_min: Column, hum_max: Column
) -> Column:
    """min_max: the hour's position within the daily temperature range
    mapped onto the humidity range (`humidity.py:91-101`).

    Flat day (tmax == tmin): the reference's numpy ratio is ±inf (→
    100/0 after the clip, sign of (temp-tmin)·(hum_min-hum_max)) and
    NaN only for temp == tmin or hum_min == hum_max (0·inf); this
    reproduces that, with NaN expressed as null."""
    num = temp - tmin
    den = tmax - tmin
    diff = hum_min - hum_max
    flat = F.when((num == 0) | (diff == 0), F.lit(None).cast("double")).otherwise(
        F.when((num > 0) == (diff > 0), F.lit(100.0)).otherwise(F.lit(0.0))
    )
    return F.when(den != 0, hum_max + num / den * diff).otherwise(flat)


def linear_dewpoint(tdew: Column, tdew_next: Column, kr: Column, hour: Column) -> Column:
    """linear_dewpoint_variation hourly dewpoint: linear from today's
    to the next day's dewpoint plus a sine of period ``kr``, eq.
    (20)/(21) of Debele et al. (2007) (`humidity.py:73-86`)."""
    h = hour.cast("double")
    tdew_delta = 0.5 * F.sin((h + 1) * F.lit(PI) / kr - F.lit(3.0 * PI / 4.0))
    return tdew + h / 24.0 * (tdew_next - tdew) + tdew_delta


def clip_rh(val: Column) -> Column:
    """Clip to [0, 100] (`humidity.py:120`), keeping null: Spark's
    greatest/least skip nulls, which would turn a null (the
    reference's NaN) into 0.0."""
    return F.when(val.isNull(), val).otherwise(
        F.least(F.greatest(val, F.lit(0.0)), F.lit(100.0))
    )


def dewpoint_regression(
    hourly: DataFrame,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Per-station OLS of daily-mean dewpoint on daily-min temperature.

    Reference `humidity.py:123-130`; the scipy fit collapses to the
    closed-form covariance/variance aggregation (one shuffle).
    Returns (keys..., a1, a0).
    """
    keys = list(keys)
    daily = (
        hourly.withColumn("tdew", dewpoint_temperature(F.col("temp"), F.col("hum")))
        .groupBy(*keys, F.to_date(ts_col).alias("date"))
        .agg(F.avg("tdew").alias("tdew"), F.min("temp").alias("tmin"))
        .na.drop(subset=["tdew", "tmin"])
    )
    return daily.groupBy(*keys).agg(*linregress_agg("tmin", "tdew"))
