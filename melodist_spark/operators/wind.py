"""Wind disaggregation and the cosine-fit calibration.

Reference: `wind.py:28-93`. equal/cosine are pure column expressions;
``random`` draws one counter-based uniform per station-hour
(`util/rng.py`; the reference draws from an unseeded global RNG — we
define reproducible behavior instead, see SURVEY.md §4.2). The scipy
``curve_fit`` calibration is an exact OLS, one grouped aggregation
(`util/ols.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from melodist_spark.util.calendar import hourly_calendar
from melodist_spark.util.ols import normal_equations_fit
from melodist_spark.util.rng import counter_key, uniform

PI = 3.141592653589793

METHODS = ("equal", "cosine", "random")


def disaggregate_wind(
    daily: DataFrame,
    method: str = "equal",
    wind_params: DataFrame | None = None,
    seed: int = 42,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """Disaggregate daily wind speed to hourly values.

    - equal: replicate the daily mean (`wind.py:60-63`)
    - cosine: ``a·w̄·cos(π(h - t_shift)/12) + b·w̄`` (`wind.py:28-42`)
      with per-station (a, b, t_shift) from ``wind_params``
    - random: ``w̄·(-ln U)^0.3`` (`wind.py:69-70`), U keyed by
      (keys, seed, unix_seconds(ts)), so no partitioning can change it

    Returns (keys..., ts, wind).
    """
    if method not in METHODS:
        raise ValueError("Invalid method")
    keys = list(keys)

    out = hourly_calendar(
        daily.select(*keys, date_col, "wind"), date_col=date_col, ts_col=ts_col
    )

    if method == "equal":
        wind = F.col("wind")
    elif method == "cosine":
        if wind_params is None:
            raise ValueError("wind_params (a, b, t_shift) required")
        out = out.join(F.broadcast(wind_params), keys, "left")
        h = F.hour(ts_col).cast("double")
        wind = F.col("a") * F.col("wind") * F.cos(
            F.lit(PI) * (h - F.col("t_shift")) / F.lit(12.0)
        ) + F.col("b") * F.col("wind")
    else:  # random
        u = uniform(counter_key(*[f"`{k}`" for k in keys], seed, f"unix_seconds(`{ts_col}`)"))
        wind = F.expr(f"wind * pow(-ln({u}), 0.3D)")

    return out.select(*keys, ts_col, wind.alias("wind"))


def fit_cosine_function(
    hourly: DataFrame,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    wind_col: str = "wind",
) -> DataFrame:
    """Fit (a, b, t_shift) of the diurnal cosine per station.

    Reference `wind.py:75-93` uses scipy ``curve_fit``; the model
    ``a·w̄·cos(π(t-t_shift)/12) + b·w̄`` is linear after the harmonic
    reparametrization ``α=a·cos(πt_s/12), β=a·sin(πt_s/12)``:
    ``w̄·(α·cos(πt/12) + β·sin(πt/12) + b)`` — so the *exact* least
    squares solution is a 3-regressor OLS (:func:`normal_equations_fit`;
    a = hypot(α,β), t_shift = 12/π·atan2(β,α)). A calm station gets
    a = b = t_shift = 0; one seen at fewer than three distinct hours gets
    nulls, so :func:`disaggregate_wind` gives it null hourly wind, as for
    a station missing from ``wind_params``. Returns (keys..., a, b, t_shift).
    """
    keys = list(keys)

    prepared = (
        hourly.select(*keys, ts_col, wind_col)
        .withColumn(
            "daily_mean",
            F.avg(wind_col).over(Window.partitionBy(*keys, F.to_date(ts_col))),
        )
        .withColumn("hour", F.hour(ts_col))
        .na.drop(subset=[wind_col, "daily_mean"])
    )

    ang = "pi() * hour / 12"
    fit = normal_equations_fit(
        prepared, keys, wind_col,
        [f"daily_mean * cos({ang})", f"daily_mean * sin({ang})", "daily_mean"],
        ["alpha", "beta", "b"],
    )
    return fit.selectExpr(
        *keys, "hypot(alpha, beta) AS a", "b", "12 / pi() * atan2(beta, alpha) AS t_shift"
    )
