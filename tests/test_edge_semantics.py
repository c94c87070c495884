"""Edge semantics called out in SURVEY.md §7.4: the 3-piece
mod_nighttime cosine, the min_loc>max_loc fallback, and the humidity
'minimal' method — each against exact reference math — plus the
ValueError raised for missing caller parameters."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from melodist_spark.api import Stations
from melodist_spark.operators.humidity import disaggregate_humidity
from melodist_spark.operators.precipitation import disagg_prec
from melodist_spark.operators.radiation import disaggregate_radiation
from melodist_spark.operators.temperature import disaggregate_temperature
from melodist_spark.operators.wind import disaggregate_wind
from melodist_spark.statistics import StationStatistics
from melodist_spark.util.interpolate import interpolate_linear


def test_mod_nighttime_three_piece(met_daily):
    """`temperature.py:145-167`: piecewise cosine with π/(24-span) night
    pieces and 0.75π/span day piece."""
    got = (
        disaggregate_temperature(
            met_daily.filter(F.col("station_id") == "s1"),
            method="sine_min_max",
            min_max_time="fix",
            mod_nighttime=True,
        )
        .orderBy("ts")
        .toPandas()
    )
    daily = (
        met_daily.filter(F.col("station_id") == "s1")
        .select("date", "tmin", "tmax")
        .orderBy("date")
        .toPandas()
    )
    daily["date"] = pd.to_datetime(daily["date"])
    daily = daily.set_index("date")

    idx = pd.date_range(daily.index.min(), daily.index.max() + pd.Timedelta(hours=23), freq="h")
    loc = pd.DataFrame(index=daily.index)
    loc["min_val_cur"] = daily.tmin
    loc["max_val_cur"] = daily.tmax
    loc["min_val_next"] = daily.tmin.shift(-1)
    loc.iloc[-1, loc.columns.get_loc("min_val_next")] = daily.tmin.iloc[-1]
    loc["max_val_before"] = daily.tmax.shift(1)
    loc.iloc[0, loc.columns.get_loc("max_val_before")] = daily.tmax.iloc[0]
    lh = loc.reindex(idx, method="ffill")
    h = idx.hour.to_numpy().astype(float)

    min_loc, max_loc = 7.0, 14.0
    minv = np.where(h < max_loc, lh.min_val_cur, lh.min_val_next)
    maxv = np.where(h < min_loc, lh.max_val_before, lh.max_val_cur)
    delta = maxv - minv
    vt = minv + delta / 2
    span = max_loc - min_loc
    before = vt + delta / 2 * np.cos(np.pi / (24 - span) * (24 - max_loc + h))
    between = vt + delta / 2 * np.cos(1.25 * np.pi + 0.75 * np.pi / span * (h - min_loc))
    after = vt + delta / 2 * np.cos(np.pi / (24 - span) * (h - max_loc))
    exp = np.where(h <= min_loc, before, np.where(h < max_loc, between, after))

    np.testing.assert_allclose(got["temp"].values, exp, atol=1e-9)


def test_sun_loc_shift_fallback(spark, stations, met_daily):
    """`temperature.py:104-107`: a large positive max_delta cannot push
    max_loc before min_loc — the fallback pins max_loc to
    round(sunnoon)+2. Force it with a huge negative delta."""
    md = (
        met_daily.select("station_id")
        .distinct()
        .crossJoin(spark.range(1, 13).select(F.col("id").cast("int").alias("month")))
        .withColumn("max_delta", F.lit(-20.0))
    )
    out = disaggregate_temperature(
        met_daily,
        method="sine_min_max",
        min_max_time="sun_loc_shift",
        stations=stations,
        max_delta=md,
    )
    # with the fallback active the series stays finite and bounded
    n = out.count()
    assert n == met_daily.count() * 24
    bad = out.filter(F.abs(F.col("temp")) > 400).count()
    assert bad == 0


def test_humidity_minimal_matches_formula(met_daily, met_hourly_pd, spark):
    """`humidity.py:63-90` with a0=0, a1=1: tdew = tmin."""
    from melodist_spark.operators.temperature import disaggregate_temperature

    d1 = met_daily.filter(F.col("station_id") == "s1")
    temp_h = disaggregate_temperature(d1, method="sine_min_max", min_max_time="fix")
    got = (
        disaggregate_humidity(d1, method="minimal", hourly_temp=temp_h)
        .orderBy("ts")
        .toPandas()
    )

    daily = d1.select("date", "tmin").orderBy("date").toPandas()
    daily["date"] = pd.to_datetime(daily["date"])
    daily = daily.set_index("date")
    th = temp_h.orderBy("ts").toPandas().set_index("ts")["temp"]
    idx = th.index
    tdew = daily.tmin.reindex(idx, method="ffill").to_numpy()
    temp = th.to_numpy()

    def vp_sat(t):
        return np.where(
            t >= 273.15,
            6.112 * np.exp(17.62 * (t - 273.15) / (243.12 + t - 273.15)),
            6.112 * np.exp(22.46 * (t - 273.15) / (272.62 + t - 273.15)),
        )

    exp = np.clip(100.0 * vp_sat(tdew) / vp_sat(temp), 0, 100)
    np.testing.assert_allclose(got["hum"].values, exp, atol=1e-9)



FIX = {"method": "sine_min_max", "min_max_time": "fix"}
MISSING_PARAM_CALLS = {
    "humidity method": lambda d, st: disaggregate_humidity(d, method="bogus"),
    "dewpoint_regression without hum_params": lambda d, st: disaggregate_humidity(
        d, method="dewpoint_regression", temp_disagg=FIX
    ),
    "hourly_temp and temp_disagg": lambda d, st: disaggregate_humidity(
        d, method="minimal", hourly_temp=d, temp_disagg=FIX
    ),
    "minimal without temperature": lambda d, st: disaggregate_humidity(
        d, method="minimal"
    ),
    "min_max without hum_min": lambda d, st: disaggregate_humidity(
        d.drop("hum_min"), method="min_max", temp_disagg=FIX
    ),
    "min_max without temperature": lambda d, st: disaggregate_humidity(
        d, method="min_max"
    ),
    "month_hour_precip_mean without table": lambda d, st: disaggregate_humidity(
        d, method="month_hour_precip_mean"
    ),
    "wind method": lambda d, st: disaggregate_wind(d, method="bogus"),
    "cosine without wind_params": lambda d, st: disaggregate_wind(d, method="cosine"),
    "sun_loc_shift without max_delta": lambda d, st: disaggregate_temperature(
        d, min_max_time="sun_loc_shift", stations=st, polar=False
    ),
    "mean_course temperature without table": lambda d, st: disaggregate_temperature(
        d, method="mean_course_min_max"
    ),
    "mean_course radiation without table": lambda d, st: disaggregate_radiation(
        d, st, method="mean_course"
    ),
    "cascade without options": lambda d, st: disagg_prec(d, method="cascade"),
    "Stations cascade without statistics": lambda d, st: Stations(
        st, d
    ).disaggregate_precipitation("cascade"),
    "radiation stats how": lambda d, st: StationStatistics(
        None, st
    ).calc_radiation_stats(how="bogus"),
    "interpolate_linear limit_direction": lambda d, st: interpolate_linear(
        d, "temp", ts_col="date", limit_direction="Both"
    ),
    "Stations validate": lambda d, st: Stations(st, d, validate="Eager"),
}


@pytest.mark.parametrize("case", MISSING_PARAM_CALLS)
def test_missing_parameters_raise_value_error(case, met_daily, stations):
    """Caller-input checks raise ValueError, so ``python -O`` (which
    strips ``assert``) cannot turn them into a confusing later
    failure."""
    with pytest.raises(ValueError):
        MISSING_PARAM_CALLS[case](met_daily, stations)
