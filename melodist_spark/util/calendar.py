"""Calendar expansion and seasonal filtering.

Replaces the reference's index generators (`util/util.py:26-43`
``hourly_index``, `precipitation.py:705-737` ``sub_level_index``,
`precipitation.py:740-767` ``fmin_index``) and the equal-distribution
broadcast (`util/util.py:46-67`) with *narrow* DataFrame transforms:
each daily row explodes into its own sub-steps, so no shuffle and no
join is needed, partitioning by station is preserved, and days absent
from the daily table are skipped by construction (the reference removes
them with a set-difference after generating a full range).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: microseconds per cascade box at level 11 (2^-11 day), the base unit
#: of the reference's dyadic grids (`precipitation.py:706`)
LEVEL11_STEP_US = 42_187_500


def _date_ts(date_col: Column) -> Column:
    return F.to_timestamp(date_col)


def hourly_calendar(
    daily: DataFrame,
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """Explode each daily row into 24 hourly rows (hour 0..23).

    All other columns of ``daily`` are carried along, which makes the
    daily→hourly "ffill join" of the reference
    (`temperature.py:125`, `util/util.py:59-62`) a narrow map: no
    shuffle, no broadcast, works identically for 1 or 10^6 stations.
    """
    return (
        daily.withColumn("__h", F.explode(F.sequence(F.lit(0), F.lit(23))))
        .withColumn(
            ts_col,
            F.timestamp_micros(
                F.unix_micros(_date_ts(F.col(date_col)))
                + F.col("__h").cast("long") * 3_600_000_000
            ),
        )
        .drop("__h")
    )


def sub_level_calendar(
    daily: DataFrame,
    level: int = 9,
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """Explode each daily row into 2**level dyadic boxes.

    Box duration is ``42187500 µs * 2**(11-level)`` matching the
    reference's ``sub_level_index`` (`precipitation.py:705-711`); note
    2**level boxes only cover the day exactly for level 11 multiples —
    the reference inherits the same truncation.
    """
    step_us = LEVEL11_STEP_US * (2 ** (11 - level))
    n = 2**level
    return (
        daily.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .withColumn(
            ts_col,
            F.timestamp_micros(
                F.unix_micros(_date_ts(F.col(date_col)))
                + F.col("__i").cast("long") * step_us
            ),
        )
        .drop("__i")
    )


def five_min_calendar(
    daily: DataFrame,
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """288 five-minute steps per daily row (`precipitation.py:740-767`)."""
    return (
        daily.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(287))))
        .withColumn(
            ts_col,
            F.timestamp_micros(
                F.unix_micros(_date_ts(F.col(date_col)))
                + F.col("__i").cast("long") * 300_000_000
            ),
        )
        .drop("__i")
    )


def distribute_equally(
    daily: DataFrame,
    value_cols: list[str] | str,
    date_col: str = "date",
    ts_col: str = "ts",
    divide: bool = False,
) -> DataFrame:
    """Equally distribute daily values over their 24 hours.

    Reference: ``distribute_equally`` (`util/util.py:46-67`). With
    ``divide=True`` the hourly value is daily/24 so daily sums are
    preserved (precipitation); otherwise the daily value is replicated
    (means are preserved).
    """
    if isinstance(value_cols, str):
        value_cols = [value_cols]
    out = hourly_calendar(daily, date_col=date_col, ts_col=ts_col)
    if divide:
        for c in value_cols:
            out = out.withColumn(c, F.col(c) / F.lit(24.0))
    return out


def fill_daily_calendar(
    daily: DataFrame,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
) -> DataFrame:
    """Reindex each station's daily frame to a continuous calendar,
    null-filling absent days (`station.py:89-90`). One tiny
    per-station min/max aggregate exploded into the full range, then a
    left join back."""
    keys = list(keys)
    rng = daily.groupBy(*keys).agg(
        F.min(date_col).alias("__d0"), F.max(date_col).alias("__d1")
    )
    cal = rng.select(*keys, F.explode(F.sequence("__d0", "__d1")).alias(date_col))
    return cal.join(daily, [*keys, date_col], "left")


def fill_hourly_calendar(
    hourly: DataFrame,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Add a null row for every hour absent between each station's
    first and last observation, so positional kernels (the cascade's
    dyadic pairing) see a gap where it is instead of shifting every
    later value. The hourly twin of :func:`fill_daily_calendar`; the
    join back is a full join, so no observed row is dropped, even one
    off the hourly grid."""
    keys = list(keys)
    rng = hourly.groupBy(*keys).agg(
        F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1")
    )
    step = F.expr("INTERVAL 1 HOUR")
    cal = rng.select(*keys, F.explode(F.sequence("__t0", "__t1", step)).alias(ts_col))
    return cal.join(hourly, [*keys, ts_col], "full")


def prepare_interpolation_data(
    daily: DataFrame,
    column_hours: dict[str, int],
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
    out_col: str = "value",
) -> DataFrame:
    """Place daily columns at fixed hours on the hourly grid, nulls
    elsewhere — the scaffold for ``Station.interpolate``
    (`util/util.py:355-371`): e.g. {'tmin': 7, 'tmax': 14} anchors the
    day's extremes for linear interpolation between them.
    """
    hourly = hourly_calendar(
        daily.select(*keys, date_col, *column_hours), date_col=date_col, ts_col=ts_col
    )
    v = None
    for col, hour in column_hours.items():
        branch = F.when(F.hour(ts_col) == hour, F.col(col))
        v = branch if v is None else F.coalesce(v, branch)
    return hourly.select(*keys, ts_col, v.alias(out_col))


def seasonal_subset(
    df: DataFrame,
    months: list[int] | str = "all",
    ts_col: str = "ts",
) -> DataFrame:
    """Filter rows whose month is in ``months``.

    The reference loops month-by-month, concatenates and re-sorts
    (`precipitation.py:607-628`); declaratively this is a single
    pushdown-able predicate.
    """
    if isinstance(months, str) and months == "all":
        return df
    return df.filter(F.month(F.col(ts_col)).isin(list(months)))
