"""Humidity and wind disaggregation: reference invariants
(`tests/test_humidity.py`, `tests/test_wind.py`) + pandas oracles."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from melodist_spark.operators.aggregations import month_hour_precip_mean
from melodist_spark.operators.humidity import (
    dewpoint_regression,
    disaggregate_humidity,
)
from melodist_spark.operators.temperature import disaggregate_temperature
from melodist_spark.operators.wind import disaggregate_wind, fit_cosine_function


@pytest.fixture(scope="module")
def hourly_temp(met_daily):
    df = disaggregate_temperature(met_daily, method="sine_min_max", min_max_time="fix")
    df.cache().count()
    return df


HUM_METHODS = [
    "equal",
    "minimal",
    "dewpoint_regression",
    "min_max",
    "linear_dewpoint_variation",
    "month_hour_precip_mean",
]


@pytest.mark.parametrize("method", HUM_METHODS)
def test_humidity_bounds_all_methods(method, met_daily, met_hourly, hourly_temp, spark):
    kwargs = {}
    if method in ("minimal", "dewpoint_regression", "linear_dewpoint_variation", "min_max"):
        kwargs["hourly_temp"] = hourly_temp
    if method in ("dewpoint_regression", "linear_dewpoint_variation"):
        params = dewpoint_regression(met_hourly).withColumn("kr", F.lit(12))
        kwargs["hum_params"] = params
    if method == "month_hour_precip_mean":
        kwargs["month_hour_precip_mean"] = month_hour_precip_mean(met_hourly)

    out = disaggregate_humidity(met_daily, method=method, **kwargs)
    n = out.count()
    assert n > 0
    # bounds invariant: hum in [0, 100] (`tests/test_humidity.py:16-18`)
    bad = out.filter((F.col("hum") < -1e-9) | (F.col("hum") > 100 + 1e-9)).count()
    assert bad == 0


def test_humidity_equal_preserves_daily_mean(met_daily):
    out = disaggregate_humidity(met_daily, method="equal")
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.avg("hum").alias("m")
    )
    j = re.join(met_daily.select("station_id", "date", "hum"), ["station_id", "date"])
    bad = j.filter(F.abs(F.col("m") - F.col("hum")) > 1e-6).count()
    assert bad == 0


def _pd_vp(temp, hum):
    pos = temp >= 273.15
    return (
        np.where(
            pos,
            6.112 * np.exp(17.62 * (temp - 273.15) / (243.12 + temp - 273.15)),
            6.112 * np.exp(22.46 * (temp - 273.15) / (272.62 + temp - 273.15)),
        )
        * hum
        / 100.0
    )


def test_humidity_dewpoint_regression_matches_pandas(
    met_daily, met_hourly, hourly_temp
):
    """Full differential vs reference math (`humidity.py:63-120`) for
    dewpoint_regression + preserve_daily_mean, clip included."""
    params = dewpoint_regression(met_hourly).withColumn("kr", F.lit(12))
    got = (
        disaggregate_humidity(
            met_daily.filter(F.col("station_id") == "s1"),
            method="dewpoint_regression",
            hourly_temp=hourly_temp.filter(F.col("station_id") == "s1"),
            hum_params=params.filter(F.col("station_id") == "s1"),
            preserve_daily_mean=True,
        )
        .orderBy("ts")
        .toPandas()
    )

    p = params.filter(F.col("station_id") == "s1").collect()[0]
    daily = (
        met_daily.filter(F.col("station_id") == "s1")
        .select("date", "tmin", "hum")
        .orderBy("date")
        .toPandas()
    )
    daily["date"] = pd.to_datetime(daily["date"])
    daily = daily.set_index("date")
    temp_h = (
        hourly_temp.filter(F.col("station_id") == "s1").orderBy("ts").toPandas()
    ).set_index("ts")["temp"]

    idx = pd.date_range(
        daily.index.min(), daily.index.max() + pd.Timedelta(hours=23), freq="h"
    )
    tdew_daily = p["a0"] + p["a1"] * daily.tmin
    tdew = tdew_daily.reindex(idx, method="ffill")
    hum = 100.0 * _pd_vp(tdew.values, 100.0) / _pd_vp(temp_h.reindex(idx).values, 100.0)
    hum_s = pd.Series(hum, index=idx)
    bias = (hum_s.resample("D").mean() - daily.hum).reindex(idx, method="ffill").fillna(0)
    exp = (hum_s - bias).clip(0, 100)
    np.testing.assert_allclose(got["hum"].values, exp.values, atol=1e-9)


def test_dewpoint_regression_matches_ols(met_hourly, met_hourly_pd):
    got = dewpoint_regression(met_hourly).filter(F.col("station_id") == "s1").collect()[0]

    pdf = met_hourly_pd[met_hourly_pd.station_id == "s1"].set_index("ts")
    temp, hum = pdf.temp.values, pdf.hum.values
    pos = temp >= 273.15
    vp = np.where(
        pos,
        6.112 * np.exp(17.62 * (temp - 273.15) / (243.12 + temp - 273.15)),
        6.112 * np.exp(22.46 * (temp - 273.15) / (272.62 + temp - 273.15)),
    ) * hum / 100.0
    ln = np.log(vp / 6.112)
    tdew = np.where(pos, 243.12 * ln / (17.62 - ln), 272.62 * ln / (22.46 - ln)) + 273.15
    s = pd.Series(tdew, index=pdf.index)
    tdew_d = s.resample("D").mean()
    tmin_d = pdf.temp.resample("D").min()
    slope, intercept = np.polyfit(tmin_d.values, tdew_d.values, 1)
    assert got["a1"] == pytest.approx(slope, rel=1e-9)
    assert got["a0"] == pytest.approx(intercept, rel=1e-6)


def test_wind_equal_and_bounds(met_daily):
    out = disaggregate_wind(met_daily, method="equal")
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.avg("wind").alias("m")
    )
    j = re.join(met_daily.select("station_id", "date", "wind"), ["station_id", "date"])
    assert j.filter(F.abs(F.col("m") - F.col("wind")) > 1e-9).count() == 0


def test_wind_random_seeded_and_nonnegative(met_daily):
    a = disaggregate_wind(met_daily, method="random", seed=7).orderBy("station_id", "ts")
    b = disaggregate_wind(met_daily, method="random", seed=7).orderBy("station_id", "ts")
    assert a.filter(F.col("wind") < 0).count() == 0
    pa, pb = a.toPandas(), b.toPandas()
    np.testing.assert_allclose(pa["wind"].values, pb["wind"].values)


def test_wind_random_does_not_depend_on_layout_or_record_extent(met_daily, layout_runs):
    """README, "Determinism at scale": each hour's draw is keyed by
    (station, seed, hour), so the output is bit-equal under input
    repartitioning to 1, 5 and 64 partitions with AQE on and off, and a
    record extended by one day at each end keeps every overlapping
    hour."""
    first, last = dt.date(2014, 5, 1), dt.date(2014, 6, 30)
    daily = met_daily.select("station_id", "date", "wind")
    base = daily.filter(F.col("date").between(first, last))
    ext = daily.filter(F.col("date").between(first - dt.timedelta(1), last + dt.timedelta(1)))
    results = layout_runs(
        lambda d: disaggregate_wind(d, method="random", seed=7).filter(
            F.to_date("ts").between(first, last)
        ),
        [base, ext],
    )
    assert len(results[0]) == 3 * 61 * 24
    assert all(r == results[0] for r in results)


def test_wind_cosine_fit_roundtrip(spark, met_daily):
    """Generate hourly wind from a known (a,b,t_shift) cosine and check
    the scipy fit recovers it (`wind.py:75-93`)."""
    a_true, b_true, t_true = 0.4, 1.0, 2.0
    daily = met_daily.select("station_id", "date", "wind")
    hourly = disaggregate_wind(daily, method="equal")
    synth = hourly.withColumn(
        "wind",
        F.col("wind")
        * (
            a_true * F.cos(F.lit(np.pi) * (F.hour("ts") - t_true) / 12)
            + F.lit(b_true)
        ),
    )
    fit = fit_cosine_function(synth).filter(F.col("station_id") == "s1").collect()[0]
    # cosine has (a,t_shift) sign/period ambiguities; check the
    # reconstructed curve instead of raw params
    h = np.arange(24)
    got = fit["a"] * np.cos(np.pi * (h - fit["t_shift"]) / 12) + fit["b"]
    exp = a_true * np.cos(np.pi * (h - t_true) / 12) + b_true
    np.testing.assert_allclose(got, exp, atol=1e-6)


def test_dewpoint_regression_constant_tmin_is_null(spark, met_hourly):
    """A station whose daily minimum never changes has no slope: its
    (a1, a0) is null and the other stations still calibrate (ANSI
    division by zero used to fail the whole call)."""
    stuck = spark.createDataFrame(
        [
            ("stuck", dt.datetime(2014, 1, d, h), 270.0 + h % 5, 80.0)
            for d in range(1, 8)
            for h in range(24)
        ],
        "station_id string, ts timestamp, temp double, hum double",
    )
    hourly = met_hourly.select(*stuck.columns).unionByName(stuck)
    fit = {r["station_id"]: r for r in dewpoint_regression(hourly).collect()}
    assert fit["stuck"]["a1"] is None and fit["stuck"]["a0"] is None
    assert all(fit[s]["a1"] is not None for s in ("s1", "s2", "s3"))


def test_wind_cosine_fit_matches_lstsq(met_hourly):
    """The JVM normal-equation fit equals numpy's lstsq per station, on
    three stations, one of them with missing hours."""
    gappy = (
        (F.col("station_id") == "s2")
        & F.hour("ts").isin(3, 4, 17)
        & (F.dayofyear("ts") % 3 == 0)
    )
    hourly = met_hourly.select("station_id", "ts", "wind").filter(~gappy)
    got = fit_cosine_function(hourly).toPandas().set_index("station_id")
    pdf = hourly.select(
        "station_id", "wind", F.hour("ts").alias("hour"), F.to_date("ts").alias("date")
    ).toPandas()
    assert len(got) == 3
    for sid, g in pdf.groupby("station_id"):
        m = g.groupby("date")["wind"].transform("mean").to_numpy()
        ang = np.pi * g["hour"].to_numpy(dtype=float) / 12.0
        X = np.column_stack([m * np.cos(ang), m * np.sin(ang), m])
        (alpha, beta, b), *_ = np.linalg.lstsq(X, g["wind"].to_numpy(), rcond=None)
        exp = [np.hypot(alpha, beta), b, 12.0 / np.pi * np.arctan2(beta, alpha)]
        np.testing.assert_allclose(
            got.loc[sid, ["a", "b", "t_shift"]].to_numpy(dtype=float), exp, rtol=1e-9
        )


def test_wind_cosine_fit_rank_deficient_stations(spark, met_hourly):
    """A calm station (wind 0 throughout) gets a = b = t_shift = 0, the
    minimum-norm answer numpy's lstsq gives, so its cosine wind stays 0.
    A station observed at two hours only cannot fix three parameters:
    it gets null ones and null hourly wind, like a station missing
    from the parameter table. The other stations are unaffected."""
    odd = spark.createDataFrame(
        [
            (sid, dt.datetime(2014, 1, d, h), 0.0 if sid == "calm" else 2.0 + d + h / 6)
            for sid, hours in (("calm", range(24)), ("twohour", (6, 18)))
            for d in range(1, 8)
            for h in hours
        ],
        "station_id string, ts timestamp, wind double",
    )
    base = met_hourly.select(*odd.columns)
    hourly = base.unionByName(odd)
    wind_params = fit_cosine_function(hourly)
    got = {r["station_id"]: r for r in wind_params.collect()}
    assert (got["calm"]["a"], got["calm"]["b"], got["calm"]["t_shift"]) == (0.0, 0.0, 0.0)
    assert (got["twohour"]["a"], got["twohour"]["b"], got["twohour"]["t_shift"]) == (None,) * 3
    for r in fit_cosine_function(base).collect():
        assert got[r["station_id"]] == r

    daily = hourly.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.avg("wind").alias("wind")
    )
    out = disaggregate_wind(daily, method="cosine", wind_params=wind_params)
    vals = {
        r["station_id"]: r["v"]
        for r in out.groupBy("station_id").agg(F.collect_set("wind").alias("v")).collect()
    }
    assert vals["calm"] == [0.0]
    assert vals["twohour"] == []
    assert vals["s1"]


@pytest.mark.parametrize(
    "method", ["minimal", "dewpoint_regression", "linear_dewpoint_variation", "min_max"]
)
def test_fused_humidity_matches_join_path(method, met_daily, met_hourly, hourly_temp):
    """temp_disagg fusion (temperature computed on the humidity's own
    calendar explode) must be value-identical to the hourly_temp join
    path — same physics, one shuffle less."""
    kwargs = {}
    if method in ("dewpoint_regression", "linear_dewpoint_variation"):
        params = dewpoint_regression(met_hourly).withColumn("kr", F.lit(12))
        kwargs["hum_params"] = params
    joined = disaggregate_humidity(
        met_daily, method=method, hourly_temp=hourly_temp, **kwargs
    ).orderBy("station_id", "ts").toPandas()
    fused = disaggregate_humidity(
        met_daily,
        method=method,
        temp_disagg={"method": "sine_min_max", "min_max_time": "fix"},
        **kwargs,
    ).orderBy("station_id", "ts").toPandas()
    assert len(joined) == len(fused)
    np.testing.assert_allclose(
        joined["hum"].to_numpy(dtype=float),
        fused["hum"].to_numpy(dtype=float),
        atol=1e-9, equal_nan=True,
    )


def test_min_max_flat_day_reference_semantics(spark):
    """tmax == tmin: the reference's numpy ratio is ±inf → 100/0 after
    the clip; temp == tmin (0·inf) stays NaN (null here) — ADVICE r1."""
    daily = spark.createDataFrame(
        pd.DataFrame(
            dict(
                station_id=["s1"],
                date=[pd.Timestamp("2015-06-01").date()],
                tmin=[280.0],
                tmax=[280.0],
                hum_min=[40.0],
                hum_max=[80.0],
            )
        )
    )
    hours = pd.date_range("2015-06-01", periods=24, freq="h")
    temp = np.full(24, 280.0)
    temp[5] = 281.0  # > tmin → ratio +inf, diff<0 → -inf → clip 0
    temp[6] = 279.0  # < tmin → +inf → clip 100
    ht = spark.createDataFrame(
        pd.DataFrame(dict(station_id="s1", ts=hours, temp=temp))
    )
    out = (
        disaggregate_humidity(daily, method="min_max", hourly_temp=ht)
        .orderBy("ts")
        .toPandas()
    )
    assert out["hum"].iloc[5] == 0.0
    assert out["hum"].iloc[6] == 100.0
    assert np.isnan(out["hum"].iloc[0])  # temp == tmin → NaN/null


def test_q_humidity_variants_matches_public_ops(spark):
    """The registry row (one fused sine-temperature chain, one hourly
    explode emitting all three variant rows per hour) matches the
    public ``disaggregate_humidity`` call of each branch at the row's
    rounding."""
    import os
    import sys

    import pyspark.sql.functions as F

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry

    from melodist_spark.operators.humidity import (
        dewpoint_regression,
        disaggregate_humidity,
    )

    sf_dir = "/root/testdata/sf0.001"
    q = entry.q_humidity_variants(spark, sf_dir)
    daily = entry._met_daily(spark, sf_dir)
    temp_disagg = {"method": "sine_min_max", "min_max_time": "fix"}

    def snap(df):
        def norm(v):
            return "nan" if isinstance(v, float) and v != v else v

        return sorted(tuple(norm(v) for v in r) for r in df.collect())

    pub = {
        "minimal": disaggregate_humidity(
            daily, method="minimal", temp_disagg=temp_disagg,
            keys=["user_id"],
        ),
        "min_max": disaggregate_humidity(
            daily, method="min_max", temp_disagg=temp_disagg,
            keys=["user_id"],
        ),
        # Debele et al. 2007 eq. 20/21: the tmin dewpoint regression
        # with a 12 h sine perturbation period
        "lindew": disaggregate_humidity(
            daily,
            method="linear_dewpoint_variation",
            temp_disagg=temp_disagg,
            hum_params=dewpoint_regression(
                entry._met_hourly(spark, sf_dir), keys=["user_id"]
            ).withColumn("kr", F.lit(12)),
            keys=["user_id"],
        ),
    }
    for variant, df in pub.items():
        got = snap(
            q.filter(F.col("variant") == variant).select(
                "user_id", "ts", "hum_h"
            )
        )
        want = snap(
            df.select("user_id", "ts", F.round("hum", 6).alias("hum_h"))
        )
        assert got == want, f"branch {variant} diverged from the public op"
