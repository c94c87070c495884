"""Shortwave radiation disaggregation.

Reference: `radiation.py:32-344`. The hourly scaling
``glob = pot_rad / pot_rad_daily · glob_daily`` is a window average
per (station, day) — no join against a separately aggregated daily
frame. Angstroem is linear in (a, b) so its "curve fit" is a
two-regressor OLS aggregation (`util/ols.py`). Bristow-Campbell's
(A, C) fit is least squares on the zero-bias curve: A is closed-form
for each C, and C comes from a refined grid, so the whole fit is
grouped sums.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from melodist_spark.functions.solar import potential_radiation, sun_times_exprs
from melodist_spark.util.calendar import hourly_calendar
from melodist_spark.util.ols import normal_equations_fit

METHODS = ("pot_rad", "pot_rad_via_ssd", "pot_rad_via_bc", "mean_course")


def _with_station_meta(df: DataFrame, stations: DataFrame, keys: list[str]) -> DataFrame:
    return df.join(F.broadcast(stations.select(*keys, "lon", "lat", "timezone")), keys)


def bristow_campbell_exprs(
    daily: DataFrame,
    pot_rad_daily_col: str,
    a,
    c,
    keys: list[str],
    date_col: str = "date",
) -> DataFrame:
    """Attach a ``bc_rad`` column: Bristow & Campbell (1984) daily
    radiation from the diurnal temperature range (`radiation.py:207-248`).

    ``a``/``c`` may be floats or Columns (e.g. from a monthly params
    join). ``dT = tmax - (tmin + tmin_nextday)/2``; B from the monthly
    mean of dT; last day's tmin_nextday is its own tmin.
    """
    d = _bc_transmissivity(daily, a, c, keys, date_col)
    return d.withColumn(
        "bc_rad", F.col("__trans") * F.col(pot_rad_daily_col)
    ).drop("__trans")


def _as_col(v) -> Column:
    return v if isinstance(v, Column) else F.lit(float(v))


def _bc_daily_terms(
    daily: DataFrame, keys: list[str], date_col: str = "date"
) -> DataFrame:
    """Attach the (a, c)-independent Bristow-Campbell daily terms
    ``__dT`` (diurnal range vs the next calendar day's tmin) and
    ``__B`` (the monthly-mean-dT decay coefficient) — split out so a
    multi-(a, c) caller evaluates the two windows once and derives
    each parameterization with :func:`_bc_trans_expr`."""
    w = Window.partitionBy(*keys).orderBy(date_col)
    nxt_ok = F.datediff(F.lead(date_col, 1).over(w), F.col(date_col)) == 1
    tmin_next = F.coalesce(
        F.when(nxt_ok, F.lead("tmin", 1).over(w)), F.col("tmin")
    )
    d = daily.withColumn("__dT", F.col("tmax") - (F.col("tmin") + tmin_next) / 2.0)
    wm = Window.partitionBy(*keys, F.month(date_col))
    return d.withColumn("__B", 0.036 * F.exp(-0.154 * F.avg("__dT").over(wm)))


def _bc_trans_expr(a, c) -> Column:
    """``a·(1 − exp(−B·dT^c))`` over the ``__dT``/``__B`` columns
    attached by :func:`_bc_daily_terms`."""
    return _as_col(a) * (1 - F.exp(-F.col("__B") * F.pow(F.col("__dT"), _as_col(c))))


def _bc_transmissivity(
    daily: DataFrame, a, c, keys: list[str], date_col: str = "date"
) -> DataFrame:
    """Attach the Bristow-Campbell atmospheric transmissivity
    ``__trans = a·(1 − exp(−B·dT^c))`` — a pure daily-grain quantity
    (two narrow windows per station), computable *before* any hourly
    explode."""
    d = _bc_daily_terms(daily, keys, date_col)
    return d.withColumn("__trans", _bc_trans_expr(a, c)).drop("__dT", "__B")


def angstroem_expr(ssd, day_length, pot_rad_daily, a, b) -> Column:
    """Angstroem (1924): ``(a + b·ssd/daylength)·pot_rad_daily``
    (`radiation.py:283-311`). A polar-night day (daylength 0) gets 0
    (`radiation.py:79-87`). Arguments are Columns or numbers."""
    day_length = _as_col(day_length)
    return F.when(
        day_length > 0,
        (_as_col(a) + _as_col(b) * F.try_divide(_as_col(ssd), day_length))
        * _as_col(pot_rad_daily),
    ).otherwise(F.lit(0.0))


def scaled_glob(pot_rad: Column, pot_rad_daily: Column, glob_daily: Column) -> Column:
    """Hourly radiation: the day's total spread along the hourly shape,
    ``pot_rad / pot_rad_daily · glob_daily`` (`radiation.py:98`), with
    values < 0.01 floored to 0 (`radiation.py:99`). A polar-night day
    has pot_rad_daily == 0; the reference's numpy 0/0 yields NaN, and
    try_divide's null matches."""
    glob = F.try_divide(pot_rad, pot_rad_daily) * glob_daily
    return F.when(glob < 1e-2, 0.0).otherwise(glob)


# keep reference-named aliases for API parity
angstroem = angstroem_expr
bristow_campbell = bristow_campbell_exprs


def disaggregate_radiation(
    daily: DataFrame,
    stations: DataFrame,
    method: str = "pot_rad",
    angstr_params: DataFrame | None = None,
    bristcamp_params: DataFrame | None = None,
    mean_course: DataFrame | None = None,
    angstr_a: float = 0.25,
    angstr_b: float = 0.5,
    bristcamp_a: float = 0.75,
    bristcamp_c: float = 2.4,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
) -> DataFrame:
    """Disaggregate daily global radiation to hourly values [W/m²].

    Methods (`radiation.py:32-101`):

    - pot_rad: scale the clear-sky curve by observed daily means
    - pot_rad_via_ssd: daily total from sunshine duration (Angstroem);
      monthly (a, b) from ``angstr_params`` (keys..., month, a, b) or
      scalar defaults
    - pot_rad_via_bc: daily total from temperature range
      (Bristow-Campbell); monthly (a, c) likewise
    - mean_course: use the calibrated mean diurnal course as the shape

    Returns (keys..., ts, glob). Values < 0.01 are floored to 0
    (`radiation.py:99`).
    """
    if method not in METHODS:
        raise ValueError("Invalid option")
    keys = list(keys)

    daily_cols = [c for c in ("glob", "ssd", "tmin", "tmax") if c in daily.columns]
    d = _with_station_meta(daily.select(*keys, date_col, *daily_cols), stations, keys)
    d = d.withColumns(sun_times_exprs(date_col, "lon", "lat", "timezone"))

    if method == "pot_rad_via_bc":
        # transmissivity is a daily-grain quantity: attach it BEFORE the
        # hourly explode, so the clear-sky curve is evaluated once and
        # no hourly↔daily join or re-aggregation exists in the plan
        # (glob = pot_rad·trans — the daily-mean normalization cancels)
        if bristcamp_params is not None:
            d = d.withColumn("__m", F.month(date_col)).join(
                F.broadcast(
                    bristcamp_params.withColumnRenamed("month", "__m")
                ),
                [*keys, "__m"],
                "left",
            )
            a_in, c_in = F.col("a"), F.col("c")
        else:
            a_in, c_in = F.lit(bristcamp_a), F.lit(bristcamp_c)
        d = _bc_transmissivity(d, a_in, c_in, keys, date_col).drop("__m")

    hourly = hourly_calendar(d, date_col=date_col, ts_col=ts_col)

    if method == "mean_course":
        if mean_course is None:
            raise ValueError("mean_course table required for mean_course")
        hourly = (
            hourly.withColumn("month", F.month(ts_col))
            .withColumn("hour", F.hour(ts_col))
            .join(
                F.broadcast(mean_course.withColumnRenamed("value", "pot_rad")),
                [*keys, "month", "hour"],
                "left",
            )
        )
    else:
        hourly = hourly.withColumn(
            "pot_rad",
            potential_radiation(ts_col, "lon", "lat", "timezone"),
        )

    wd = Window.partitionBy(*keys, F.to_date(ts_col))
    hourly = hourly.withColumn("pot_rad_daily", F.avg("pot_rad").over(wd))

    if method in ("pot_rad", "mean_course"):
        glob_daily = F.col("glob")
    elif method == "pot_rad_via_ssd":
        if angstr_params is not None:
            hourly = hourly.withColumn("month", F.month(ts_col)).join(
                F.broadcast(angstr_params), [*keys, "month"], "left"
            )
            a_col, b_col = F.col("a"), F.col("b")
        else:
            a_col, b_col = F.lit(angstr_a), F.lit(angstr_b)
        glob_daily = angstroem_expr(
            F.col("ssd"), F.col("daylength"), F.col("pot_rad_daily"), a_col, b_col
        )
    else:  # pot_rad_via_bc — __trans attached pre-explode above
        glob_daily = F.col("__trans") * F.col("pot_rad_daily")

    glob = scaled_glob(F.col("pot_rad"), F.col("pot_rad_daily"), glob_daily)
    return hourly.select(*keys, ts_col, glob.alias("glob"))


def fit_angstroem_params(
    daily_with_sun: DataFrame,
    keys: list[str] = ("station_id",),
) -> DataFrame:
    """Closed-form least squares for the Angstroem (a, b).

    The model ``obs = a·pot + b·(ssd/daylength·pot)`` is linear in
    (a, b), so scipy's ``curve_fit`` (`radiation.py:314-344`) reduces
    to the 2×2 normal equations — exact, distributed, no UDF. A group
    whose system is singular (e.g. a month without sunshine) gets null
    (a, b). Input needs columns ssd, daylength, pot_rad_daily,
    obs_rad_daily. Returns (keys..., a, b).
    """
    d = daily_with_sun.na.drop(
        subset=["ssd", "daylength", "pot_rad_daily", "obs_rad_daily"]
    ).filter(F.col("daylength") > 0)  # polar nights carry no information
    xs = ["pot_rad_daily", "try_divide(ssd, daylength) * pot_rad_daily"]
    return normal_equations_fit(d, list(keys), "obs_rad_daily", xs, ["a", "b"])


#: C grid of the Bristow-Campbell fit: 64 log-spaced points around 1
#: (0.047-19.2), then 64 points 32x finer around the best of those
_BC_GRID, _BC_STEP, _BC_REFINE, _BC_ROUNDS = 64, math.log(1.1), 32, 2


def fit_bristow_campbell_params(
    daily: DataFrame,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
) -> DataFrame:
    """Fit Bristow-Campbell (A, C) by least squares at zero mean bias.

    The reference minimizes |mean bias| (`radiation.py:251-280`), which
    is 0 along a whole curve: for any C, ``A(C) = Σobs / Σ(pot·τ_C)``
    with ``τ_C = 1 − exp(−B·dT^C)``. This fit returns the point of that
    curve with the least ``Σ(A(C)·pot·τ_C − obs)²``, C from a grid
    refined around its best point; each round is one grouped
    aggregation of the days × grid cross product.

    Input needs tmin, tmax, pot_rad_daily, obs_rad_daily. Rows with a
    null or NaN input leave before dT pairs each day with the next
    calendar day's tmin (:func:`_bc_daily_terms`); days with dT ≤ 0
    leave the sums. A group with no day left, or with ``Σ(pot·τ_C) =
    0`` for every C, gets null (a, c). Returns (keys..., a, c).

    The rounds join by sort-merge in the partitions of the dT windows,
    which hold each group's days in date order, so every sum adds the
    same terms in the same order for any input partitioning.
    """
    keys = list(keys)
    quoted = [f"`{k}`" for k in keys]
    inputs = ["tmin", "tmax", "pot_rad_daily", "obs_rad_daily"]
    days = _bc_daily_terms(
        daily.select(*keys, date_col, *inputs).na.drop(subset=inputs), keys, date_col
    ).selectExpr(
        *quoted, "__dT", "__B", "IF(__dT > 0, pot_rad_daily, NULL) AS __pot",
        "IF(__dT > 0, obs_rad_daily, NULL) AS __obs",
    )
    c = f"__c0 * exp((__k - {_BC_GRID // 2}) * __step)"
    pt = f"__pot * (1 - exp(-__B * pow(__dT, {c})))"
    sums = [F.expr(f"sum({e}) AS {n}") for n, e in (
        ("so", "__obs"), ("sp", pt), ("spp", f"pow({pt}, 2)"),
        ("spo", f"{pt} * __obs"), ("soo", "pow(__obs, 2)"),
    )]
    a = "try_divide(so, sp)"
    best = F.expr(
        f"min_by(struct({c} AS c, {a} AS a), "
        f"IF(sp <> 0, struct({a} * {a} * spp - 2 * {a} * spo + soo, __k), NULL)) AS __best"
    )
    fit = None
    for _ in range(_BC_ROUNDS):
        centre = days.selectExpr("*", "1D AS __c0", f"{_BC_STEP!r}D AS __step") if fit is None else (
            days.join(fit.hint("merge"), keys)
        )
        fit = (
            centre.selectExpr("*", f"explode(sequence(0, {_BC_GRID - 1})) AS __k")
            .groupBy(*keys, "__c0", "__step", "__k").agg(*sums)
            .groupBy(*keys, "__c0", "__step").agg(best)
            .selectExpr(*quoted, "__best.a", "__best.c AS __c0", f"__step / {_BC_REFINE} AS __step")
        )
    return fit.selectExpr(*quoted, "a", "__c0 AS c")
