"""Precipitation disaggregation: equal and master-station methods.

Reference: `precipitation.py:32-71` (dispatch), `precipitation.py:375-413`
(master station). The cascade method lives in
:mod:`melodist_spark.operators.cascade`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from melodist_spark.util.calendar import distribute_equally


def disagg_prec(
    daily: DataFrame,
    method: str = "equal",
    cascade_options=None,
    master_hourly: DataFrame | None = None,
    zerodiv: str = "uniform",
    shift: int = 0,
    seed: int = 42,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """Dispatch for precipitation disaggregation (`precipitation.py:32-71`)."""
    if method not in ("equal", "cascade", "masterstation"):
        raise ValueError("Invalid option")

    if method == "equal":
        out = distribute_equally(
            daily.select(*keys, date_col, "precip"),
            "precip",
            date_col=date_col,
            ts_col=ts_col,
            divide=True,
        )
        return out.select(*keys, ts_col, "precip")
    elif method == "masterstation":
        return precip_master_station(
            daily, master_hourly, zerodiv, keys=keys, date_col=date_col, ts_col=ts_col
        )
    else:
        from melodist_spark.operators.cascade import disagg_prec_cascade

        if cascade_options is None:
            raise ValueError("cascade_options required for cascade")
        return disagg_prec_cascade(
            daily,
            cascade_options,
            shift=shift,
            seed=seed,
            keys=keys,
            date_col=date_col,
            ts_col=ts_col,
        )


def precip_master_station(
    daily: DataFrame,
    master_hourly: DataFrame,
    zerodiv: str = "uniform",
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """Scale the master station's diurnal pattern to the target's daily
    totals.

    Reference `precipitation.py:375-413` iterates day by day; here the
    per-day normalization is a window sum over (keys, date) and the
    day loop disappears: ``precip = master/Σ_day(master) · daily_total``
    with a uniform 1/24 fallback when the master's day sum is 0 or null
    (`precipitation.py:399-408`, zerodiv='uniform') else 0.

    ``master_hourly`` must be keyed by the *target* station id (i.e.
    already mapped master→target), columns (keys..., ts, precip).
    """
    keys = list(keys)
    wd = Window.partitionBy(*keys, F.to_date(ts_col))
    master = (
        master_hourly.select(*keys, ts_col, F.col("precip").alias("__mp"))
        .withColumn("__msum", F.sum("__mp").over(wd))
        .withColumn(date_col, F.to_date(ts_col))
    )
    joined = master.join(
        daily.select(*keys, date_col, F.col("precip").alias("__daily")),
        [*keys, date_col],
        "inner",
    )
    frac = F.try_divide(F.col("__mp"), F.col("__msum")) * F.col("__daily")
    if zerodiv == "uniform":
        fallback = F.col("__daily") / 24.0
    else:
        fallback = F.lit(0.0)
    precip = F.when(
        F.col("__msum").isNull() | (F.col("__msum") == 0) | F.isnan("__msum"),
        fallback,
    ).otherwise(frac)
    return joined.select(*keys, ts_col, precip.alias("precip"))
