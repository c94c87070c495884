"""Radiation and precipitation (equal/masterstation) invariants
(`tests/test_radiation.py`, `tests/test_precipitation.py`)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from melodist_spark.operators.aggregations import mean_daily_course_by_month
from melodist_spark.operators.precipitation import (
    disagg_prec,
    precip_master_station,
)
from melodist_spark.operators.radiation import (
    disaggregate_radiation,
    fit_angstroem_params,
    fit_bristow_campbell_params,
)


def test_radiation_pot_rad_preserves_daily_mean(met_daily, stations):
    out = disaggregate_radiation(met_daily, stations, method="pot_rad")
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.avg("glob").alias("m")
    )
    j = re.join(met_daily.select("station_id", "date", "glob"), ["station_id", "date"])
    # mid-latitude stations: daily means preserved
    # (`tests/test_radiation.py:20`); the <0.01 floor perturbs ~nothing
    bad = j.filter(
        (F.col("station_id") != "s3") & (F.abs(F.col("m") - F.col("glob")) > 0.02)
    )
    assert bad.count() == 0


def test_radiation_night_is_zero(met_daily, stations):
    out = disaggregate_radiation(
        met_daily.filter(F.col("station_id") == "s1"),
        stations.filter(F.col("station_id") == "s1"),
        method="pot_rad",
    )
    night = out.filter((F.hour("ts") <= 2) | (F.hour("ts") >= 23))
    assert night.filter(F.col("glob") > 1e-6).count() == 0
    assert out.filter(F.col("glob") < 0).count() == 0


def test_radiation_mean_course(met_hourly, met_daily, stations):
    mc = mean_daily_course_by_month(met_hourly, "glob")
    out = disaggregate_radiation(
        met_daily, stations, method="mean_course", mean_course=mc
    )
    re = out.groupBy("station_id", F.month("ts").alias("m")).agg(
        F.avg("glob").alias("got")
    )
    obs = met_daily.groupBy("station_id", F.month("date").alias("m")).agg(
        F.avg("glob").alias("exp")
    )
    j = re.join(obs, ["station_id", "m"])
    # monthly means within 10% (`tests/test_radiation.py:46` rtol=0.1)
    bad = j.filter(
        F.abs(F.col("got") - F.col("exp")) > 0.1 * F.abs(F.col("exp")) + 0.5
    )
    assert bad.count() == 0


def test_radiation_via_ssd_runs_and_nonnegative(met_daily, stations):
    out = disaggregate_radiation(met_daily, stations, method="pot_rad_via_ssd")
    assert out.count() == met_daily.count() * 24
    assert out.filter(F.col("glob") < 0).count() == 0


def test_radiation_via_bc_runs(met_daily, stations):
    out = disaggregate_radiation(met_daily, stations, method="pot_rad_via_bc")
    assert out.count() == met_daily.count() * 24
    assert out.filter(F.col("glob") < 0).count() == 0


def test_fit_angstroem_closed_form(spark, met_daily, stations, met_hourly):
    """The closed-form OLS must beat-or-match defaults on its own
    objective; sanity: recovers exact params on synthetic data."""
    from melodist_spark.functions.solar import sun_times_exprs

    d = met_daily.join(F.broadcast(stations), "station_id").withColumns(
        sun_times_exprs("date", F.col("lon"), F.col("lat"), F.col("timezone"))
    )
    # synthesize obs from known (a,b) = (0.3, 0.6)
    d = d.withColumn("pot_rad_daily", F.lit(200.0) + F.dayofyear("date"))
    d = d.withColumn(
        "obs_rad_daily",
        (0.3 + 0.6 * F.try_divide(F.col("ssd"), F.col("daylength")))
        * F.col("pot_rad_daily"),
    )
    fit = fit_angstroem_params(d).collect()
    for r in fit:
        assert r["a"] == pytest.approx(0.3, abs=1e-6)
        assert r["b"] == pytest.approx(0.6, abs=1e-6)


def test_fit_bristow_campbell_reduces_bias(spark, met_daily, stations):
    from melodist_spark.functions.solar import potential_radiation
    from melodist_spark.operators.radiation import bristow_campbell_exprs
    from melodist_spark.util.calendar import hourly_calendar

    d = met_daily.filter(F.col("station_id") == "s1").join(
        F.broadcast(stations), "station_id"
    )
    hourly = hourly_calendar(d).withColumn(
        "pr", potential_radiation(F.col("ts"), F.col("lon"), F.col("lat"), F.col("timezone"))
    )
    pot_daily = hourly.groupBy("station_id", "date").agg(
        F.avg("pr").alias("pot_rad_daily")
    )
    dd = d.join(pot_daily, ["station_id", "date"]).withColumn(
        "obs_rad_daily", F.col("glob")
    )
    fit = fit_bristow_campbell_params(dd).collect()[0]
    # fitted params give |mean bias| below the default params' bias
    def mean_bias(a, c):
        bc = bristow_campbell_exprs(dd, "pot_rad_daily", a, c, ["station_id"])
        return abs(
            bc.select(F.avg(F.col("bc_rad") - F.col("obs_rad_daily"))).collect()[0][0]
        )

    assert mean_bias(fit["a"], fit["c"]) <= mean_bias(0.75, 2.4) + 1e-6


def test_fit_angstroem_singular_range_is_null(spark):
    """A station without sunshine (ssd = 0 on every day) has a singular
    system: its (a, b) is null, and the other station's fit is the one
    it gets alone. ANSI division by zero used to fail the whole call."""
    days = pd.date_range("2014-12-01", periods=28, freq="D").date
    rows = [
        dict(
            station_id=sid,
            date=d,
            ssd=sun * (1.0 + i % 5),
            daylength=7.5,
            pot_rad_daily=60.0 + i,
            obs_rad_daily=20.0 + 3.0 * (i % 7),
        )
        for sid, sun in (("dark", 0.0), ("lit", 1.0))
        for i, d in enumerate(days)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    fit = {r["station_id"]: r for r in fit_angstroem_params(df).collect()}
    assert fit["dark"]["a"] is None and fit["dark"]["b"] is None
    alone = fit_angstroem_params(df.filter(F.col("station_id") == "lit")).collect()[0]
    assert fit["lit"]["a"] == pytest.approx(alone["a"], rel=1e-12)
    assert fit["lit"]["b"] == pytest.approx(alone["b"], rel=1e-12)


def _zero_bias_grid_fit(t: pd.DataFrame) -> tuple[float, float, float]:
    """numpy reference of the zero-bias least-squares fit: over the
    days with dT > 0 of ``t`` (``_bc_daily_terms`` columns), A(C) =
    Σobs / Σ(pot·τ_C) and the C of least squared error on a log grid
    with 0.03% steps. Returns (a, c, sse)."""
    t = t[t["__dT"] > 0]
    dT, B = t["__dT"].to_numpy(), t["__B"].to_numpy()
    pot, obs = t["pot_rad_daily"].to_numpy(), t["obs_rad_daily"].to_numpy()
    best = (np.nan, np.nan, np.inf)
    for c in np.geomspace(0.05, 19.0, 20001):
        pt = pot * (1 - np.exp(-B * dT**c))
        a = obs.sum() / pt.sum()
        sse = ((a * pt - obs) ** 2).sum()
        if sse < best[2]:
            best = (a, c, sse)
    return best


def _bc_sse_bias(t: pd.DataFrame, a: float, c: float) -> tuple[float, float]:
    t = t[t["__dT"] > 0]
    res = a * (1 - np.exp(-t["__B"] * t["__dT"] ** c)) * t["pot_rad_daily"] - t["obs_rad_daily"]
    return float((res**2).sum()), float(res.mean())


def test_fit_bristow_campbell_pairs_next_calendar_day(spark):
    """The fit pairs each day with the next CALENDAR day's tmin, or the
    day's own where that day is absent, as disaggregation does: on a
    frame with a one-day gap its (a, c) is the zero-bias least-squares
    fit over the dT and B of _bc_daily_terms (numpy, fine C grid)."""
    from melodist_spark.operators.radiation import _bc_daily_terms

    rng = np.random.default_rng(5)
    n = 45
    tmin = 275.0 + 6.0 * rng.random(n)
    pdf = pd.DataFrame(
        dict(
            station_id="g",
            date=pd.date_range("2014-03-10", periods=n, freq="D").date,
            tmin=tmin,
            tmax=tmin + 4.0 + 8.0 * rng.random(n),
            pot_rad_daily=150.0 + 2.0 * np.arange(n),
            obs_rad_daily=60.0 + 40.0 * rng.random(n),
        )
    ).drop(index=20)  # one-day gap
    df = spark.createDataFrame(pdf)
    fit = fit_bristow_campbell_params(df).collect()[0]

    t = _bc_daily_terms(df, ["station_id"]).orderBy("date").toPandas()
    _, c_ref, sse_ref = _zero_bias_grid_fit(t)
    sse, bias = _bc_sse_bias(t, fit["a"], fit["c"])
    assert fit["c"] == pytest.approx(c_ref, rel=2e-3)
    assert sse <= sse_ref * (1 + 1e-6)  # the fit's C grid steps 0.3%
    assert abs(bias) <= 1e-9 * t["obs_rad_daily"].mean()


def _one_bad_day_station(sid: str, n: int = 120, bad: int = 60) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    doy = np.arange(n)
    pot = 250 + 150 * np.sin(2 * np.pi * (doy - 80) / 365.25)
    tmin = 278 + 8 * np.sin(2 * np.pi * (doy - 110) / 365.25) + rng.normal(0, 1, n)
    dtr = 4.0 + rng.gamma(4.0, 2.0, n)
    obs = pot * 0.7 * (1 - np.exp(-0.01 * dtr**2.1)) * np.exp(rng.normal(0, 0.15, n))
    tmax = tmin + dtr
    tmax[bad] = tmin[bad] - 3.0  # tmax below mean(tmin, next tmin): dT < 0
    return pd.DataFrame(
        dict(
            station_id=sid,
            date=pd.date_range("2015-01-01", periods=n, freq="D").date,
            tmin=tmin, tmax=tmax, pot_rad_daily=pot, obs_rad_daily=obs,
        )
    )


def test_fit_bristow_campbell_one_bad_day_keeps_the_others(spark):
    """One day with dT < 0 leaves the fit instead of voiding it: the
    station gets the zero-bias least-squares fit of its other days
    (its |mean bias| ~0, its squared error the fine-grid minimum), not
    the (0.75, 2.4) start point a NaN objective used to return."""
    from melodist_spark.operators.radiation import _bc_daily_terms

    df = spark.createDataFrame(_one_bad_day_station("bad"))
    t = _bc_daily_terms(df, ["station_id"]).toPandas()
    assert (t["__dT"] <= 0).sum() == 1
    fit = fit_bristow_campbell_params(df).collect()[0]
    assert (fit["a"], fit["c"]) != (0.75, 2.4)
    _, c_ref, sse_ref = _zero_bias_grid_fit(t)
    sse, bias = _bc_sse_bias(t, fit["a"], fit["c"])
    assert fit["c"] == pytest.approx(c_ref, rel=2e-3)
    assert sse <= sse_ref * (1 + 1e-6)  # the fit's C grid steps 0.3%
    assert abs(bias) <= 1e-9 * t["obs_rad_daily"].mean()


def test_fit_bristow_campbell_no_usable_day_is_null(spark):
    """A group whose days all have dT ≤ 0 has nothing to fit: null
    (a, c), as Angstroem's singular groups; the other group's fit is
    the one it gets alone."""
    good = _one_bad_day_station("good")
    flat = good.assign(station_id="flat", tmax=good["tmin"] - 20.0)
    df = spark.createDataFrame(pd.concat([good, flat], ignore_index=True))
    fit = {r["station_id"]: r for r in fit_bristow_campbell_params(df).collect()}
    assert fit["flat"]["a"] is None and fit["flat"]["c"] is None
    alone = fit_bristow_campbell_params(df.filter(F.col("station_id") == "good")).collect()[0]
    assert (fit["good"]["a"], fit["good"]["c"]) == (alone["a"], alone["c"])


@pytest.mark.parametrize("how", ["seasonal", "monthly"])
def test_radiation_range_pass_matches_per_range_fits(how, met_hourly, met_daily, stations):
    """calc_radiation_stats fits all month ranges in one grouped pass
    per family; each range's rows equal the fit on that range's days
    alone (how="all" over the subset is fit_angstroem_params /
    fit_bristow_campbell_params on it)."""
    from melodist_spark.statistics import MONTH_RANGES, StationStatistics

    s = StationStatistics(met_hourly, stations)
    s.calc_radiation_stats(data_daily=met_daily, how=how)
    ang = s.glob_angstroem.toPandas().set_index(["station_id", "month"])
    # collected rows, so a null fit (a polar-night month) compares as null
    bc = {(r["station_id"], r["month"]): (r["a"], r["c"]) for r in s.glob_bristcamp.collect()}
    n_ang = n_bc = 0
    for months in MONTH_RANGES[how]:
        sub = StationStatistics(met_hourly, stations)
        sub.calc_radiation_stats(
            data_daily=met_daily.filter(F.month("date").isin(months)), how="all"
        )
        for r in sub.glob_angstroem.filter(F.col("month").isin(months)).collect():
            got = ang.loc[(r["station_id"], r["month"])]
            assert got["a"] == pytest.approx(r["a"], rel=1e-12)
            assert got["b"] == pytest.approx(r["b"], rel=1e-12)
            n_ang += 1
        for r in sub.glob_bristcamp.filter(F.col("month").isin(months)).collect():
            assert bc[(r["station_id"], r["month"])] == (r["a"], r["c"])
            n_bc += 1
    # a polar-night month has no Angstroem fit, with or without ranges
    assert (len(ang), len(bc)) == (n_ang, n_bc)
    assert n_bc == 3 * 12


def test_precip_equal_conserves(met_daily):
    out = disagg_prec(met_daily, method="equal")
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.sum("precip").alias("s")
    )
    j = re.join(met_daily.select("station_id", "date", "precip"), ["station_id", "date"])
    assert j.filter(F.abs(F.col("s") - F.col("precip")) > 1e-3).count() == 0


def test_precip_master_station(spark, met_daily, met_hourly):
    """Use s2's hourly pattern for s1's daily totals; daily sums must
    match s1 (`precipitation.py:375-413`) incl. the uniform fallback
    on master-dry days."""
    master = met_hourly.filter(F.col("station_id") == "s2").select(
        F.lit("s1").alias("station_id"), "ts", "precip"
    )
    daily_s1 = met_daily.filter(F.col("station_id") == "s1")
    out = precip_master_station(daily_s1, master)
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.sum("precip").alias("s")
    )
    j = re.join(daily_s1.select("station_id", "date", "precip"), ["station_id", "date"])
    assert j.filter(F.abs(F.col("s") - F.col("precip")) > 1e-3).count() == 0
    # uniform fallback days exist in the fixture (master dry, target wet)
    fallback_days = (
        met_hourly.filter(F.col("station_id") == "s2")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.sum("precip").alias("ms"))
        .join(daily_s1, "date")
        .filter((F.col("ms") == 0) & (F.col("precip") > 0))
        .count()
    )
    assert fallback_days > 0


def test_radiation_with_fitted_monthly_params(spark, met_daily, stations, met_hourly):
    """pot_rad_via_bc / pot_rad_via_ssd driven by the calibrated
    monthly parameter tables (`stationstatistics.py:124-192`)."""
    from melodist_spark.statistics import StationStatistics

    s = StationStatistics(met_hourly, stations)
    s.calc_radiation_stats(data_daily=met_daily, how="seasonal")
    bc = disaggregate_radiation(
        met_daily, stations, method="pot_rad_via_bc",
        bristcamp_params=s.glob_bristcamp,
    )
    assert bc.count() == met_daily.count() * 24
    assert bc.filter(F.col("glob") < 0).count() == 0
    ssd = disaggregate_radiation(
        met_daily, stations, method="pot_rad_via_ssd",
        angstr_params=s.glob_angstroem,
    )
    assert ssd.filter(F.col("glob") < 0).count() == 0


def test_skill_scores(spark, met_hourly, met_daily, stations):
    """calc_stats metrics: perfect sim → r=1, rmse=0, nse=1."""
    from melodist_spark.functions.stats import skill_scores

    j = met_hourly.select(
        "station_id", F.col("temp").alias("obs"), F.col("temp").alias("sim")
    )
    out = skill_scores(j).toPandas().set_index("station_id")
    assert np.allclose(out["r"], 1.0)
    assert np.allclose(out["rmse"], 0.0, atol=1e-9)
    assert np.allclose(out["nse"], 1.0)

    # degraded sim: metrics worsen but stay in range
    j2 = met_hourly.select(
        "station_id",
        F.col("temp").alias("obs"),
        (F.col("temp") + 3 * F.rand(1)).alias("sim"),
    )
    out2 = skill_scores(j2).toPandas()
    assert (out2["rmse"] > 0.5).all()
    assert (out2["nse"] < 1.0).all() and (out2["nse"] > 0.9).all()


def test_angstroem_polar_night_is_zero(spark):
    """The public Angstroem builder returns 0 on a polar-night day
    (daylength 0) instead of dividing by zero, as pot_rad_via_ssd
    does; a day with daylength 8 h gets (a + b·ssd/daylength)·prd."""
    from melodist_spark import angstroem

    df = spark.createDataFrame(
        [(0, 3.0, 0.0, 250.0), (1, 4.0, 8.0, 300.0)],
        "day int, ssd double, daylength double, prd double",
    )
    got = dict(
        df.select(
            "day",
            angstroem(F.col("ssd"), F.col("daylength"), F.col("prd"), 0.25, 0.5),
        ).collect()
    )
    assert got[0] == 0.0
    assert got[1] == pytest.approx((0.25 + 0.5 * 4.0 / 8.0) * 300.0)


def test_q_radiation_proxy_variants_matches_public_ops(spark):
    """The registry row (one explode, one clear-sky evaluation, fused
    day windows emitting all four method rows per hour) matches the
    public ``disaggregate_radiation`` call of each branch at the row's
    rounding."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry

    from melodist_spark.pipeline.pinned import BC_FITTED

    sf_dir = "/root/testdata/sf0.001"
    q = entry.q_radiation_proxy_variants(spark, sf_dir)
    daily = entry._met_daily(spark, sf_dir)
    stations = entry._met_stations(daily)
    # mean_course shape: the row's dyadic month-hour glob means
    course = entry._dyadic_course(entry._met_hourly(spark, sf_dir), "glob")

    def snap(df):
        # negative-dT winter days yield NaN globs by design (the
        # reference's numpy power); normalize for tuple equality
        def norm(v):
            return "nan" if isinstance(v, float) and v != v else v

        return sorted(tuple(norm(v) for v in r) for r in df.collect())

    branches = {
        # Angstroem sunshine-duration scaling on a synthetic ssd column
        "ssd": disaggregate_radiation(
            daily.withColumn(
                "ssd", F.col("hum") - F.floor(F.col("hum") / 10.0) * 10.0
            ),
            stations,
            method="pot_rad_via_ssd",
            keys=["user_id"],
        ),
        "bc": disaggregate_radiation(
            daily, stations, method="pot_rad_via_bc", keys=["user_id"]
        ),
        "bc_fitted": disaggregate_radiation(
            daily,
            stations,
            method="pot_rad_via_bc",
            bristcamp_a=BC_FITTED["a"],
            bristcamp_c=BC_FITTED["c"],
            keys=["user_id"],
        ),
        "course": disaggregate_radiation(
            daily,
            stations,
            method="mean_course",
            mean_course=course,
            keys=["user_id"],
        ),
    }
    for method, df in branches.items():
        got = snap(
            q.filter(F.col("method") == method).select(
                "user_id", "ts", "glob_h"
            )
        )
        want = snap(
            df.select("user_id", "ts", F.round("glob", 6).alias("glob_h"))
        )
        assert got == want, f"branch {method} diverged from the public op"
