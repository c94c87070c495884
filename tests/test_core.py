"""Core utils: calendar expansion, daily aggregation, physics functions.

pandas-oracle differential tests (SURVEY.md §5.2): the same math
computed with pandas/numpy on one station must match the Spark result.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from melodist_spark.functions.meteo import dewpoint_temperature, vapor_pressure
from melodist_spark.functions.solar import potential_radiation, sun_times_exprs
from melodist_spark.operators.aggregations import (
    mean_daily_course_by_month,
    month_hour_precip_mean,
)
from melodist_spark.util.calendar import (
    distribute_equally,
    hourly_calendar,
    seasonal_subset,
)
from melodist_spark.util.gaps import detect_gaps, drop_incomplete_days


def _pd_vapor_pressure(temp, hum):
    pos = temp >= 273.15
    vp = np.where(
        pos,
        6.112 * np.exp((17.62 * (temp - 273.15)) / (243.12 + temp - 273.15)),
        6.112 * np.exp((22.46 * (temp - 273.15)) / (272.62 + temp - 273.15)),
    )
    return vp * hum / 100.0


def test_daily_from_hourly_matches_pandas(met_hourly, met_hourly_pd, met_daily):
    got = met_daily.filter(F.col("station_id") == "s1").toPandas()
    got = got.sort_values("date").set_index("date")

    pdf = met_hourly_pd[met_hourly_pd.station_id == "s1"].set_index("ts")
    exp = pd.DataFrame(
        dict(
            temp=pdf.temp.resample("D").mean(),
            tmin=pdf.temp.resample("D").min(),
            tmax=pdf.temp.resample("D").max(),
            precip=pdf.precip.resample("D").sum(),
            glob=pdf.glob.resample("D").mean(),
            hum=pdf.hum.resample("D").mean(),
            hum_min=pdf.hum.resample("D").min(),
            hum_max=pdf.hum.resample("D").max(),
            wind=pdf.wind.resample("D").mean(),
            ssd=pdf.ssd.resample("D").sum() / 60.0,
        )
    )
    exp.index = exp.index.date

    assert len(got) == len(exp)
    for c in exp.columns:
        np.testing.assert_allclose(got[c].values, exp[c].values, rtol=1e-9)


def test_hourly_calendar_counts(spark, met_daily):
    hc = hourly_calendar(met_daily)
    n_daily = met_daily.count()
    assert hc.count() == 24 * n_daily
    # hours 0..23 per day
    per_day = hc.groupBy("station_id", "date").agg(
        F.countDistinct(F.hour("ts")).alias("nh")
    )
    assert per_day.filter(F.col("nh") != 24).count() == 0


def test_distribute_equally_conserves(met_daily):
    eq = distribute_equally(met_daily.select("station_id", "date", "precip"), "precip", divide=True)
    back = eq.groupBy("station_id", "date").agg(F.sum("precip").alias("s"))
    joined = back.join(met_daily.select("station_id", "date", "precip"), ["station_id", "date"])
    bad = joined.filter(F.abs(F.col("s") - F.col("precip")) > 1e-9).count()
    assert bad == 0


def test_seasonal_subset(met_hourly):
    sub = seasonal_subset(met_hourly, [6, 7, 8])
    months = [r[0] for r in sub.select(F.month("ts")).distinct().collect()]
    assert sorted(months) == [6, 7, 8]


def test_vapor_pressure_and_dewpoint(spark):
    temps = np.linspace(250, 310, 121)
    hums = np.linspace(5, 100, 121)
    pdf = pd.DataFrame(dict(temp=temps, hum=hums))
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            vapor_pressure(F.col("temp"), F.col("hum")).alias("vp"),
            dewpoint_temperature(F.col("temp"), F.col("hum")).alias("td"),
        )
        .toPandas()
    )
    exp_vp = _pd_vapor_pressure(temps, hums)
    np.testing.assert_allclose(got["vp"].values, exp_vp, rtol=1e-12)

    # reference dewpoint (`util/util.py:105-134`): branch chosen by temp
    pos = temps >= 273.15
    ln = np.log(exp_vp / 6.112)
    exp_td = (
        np.where(pos, 243.12 * ln / (17.62 - ln), 272.62 * ln / (22.46 - ln)) + 273.15
    )
    np.testing.assert_allclose(got["td"].values, exp_td, rtol=1e-12)


def test_sun_times_against_reference_math(spark):
    dates = pd.date_range("2016-01-01", "2016-12-31", freq="D")
    lon, lat, tz = 8.86, 51.0, 1.0
    pdf = pd.DataFrame(dict(date=dates.date))
    df = spark.createDataFrame(pdf)
    got = (
        df.withColumns(sun_times_exprs("date", lon, lat, tz))
        .orderBy("date")
        .toPandas()
    )

    # reference formulas in numpy (`util/util.py:160-246`)
    doy = dates.dayofyear.to_numpy().astype(float)
    b = np.deg2rad((360.0 / 365.25) * (doy - 79.346))
    decl = np.deg2rad(
        0.3723
        + 23.2567 * np.sin(b)
        - 0.7580 * np.cos(b)
        + 0.1149 * np.sin(2 * b)
        + 0.3656 * np.cos(2 * b)
        - 0.1712 * np.sin(3 * b)
        + 0.0201 * np.cos(3 * b)
    )
    s = 2 * np.pi * (doy - 1) / 365.0
    eq_time = (12.0 / np.pi) * (
        0.000075
        + 0.001868 * np.cos(s)
        - 0.032077 * np.sin(s)
        - 0.014615 * np.cos(2 * s)
        - 0.040849 * np.sin(2 * s)
    )
    dlt = (lon - tz * 15.0) * 24.0 / 360.0
    omega = np.arccos(-np.tan(np.deg2rad(lat)) * np.tan(decl))
    sunrise = 12.0 * (1.0 - omega / np.pi) - dlt - eq_time
    sunset = 12.0 * (1.0 + omega / np.pi) - dlt - eq_time
    sunnoon = 12.0 - dlt - eq_time
    daylength = sunset - sunrise

    np.testing.assert_allclose(got["sunrise"].values, sunrise, atol=1e-9)
    np.testing.assert_allclose(got["sunnoon"].values, sunnoon, atol=1e-9)
    np.testing.assert_allclose(got["sunset"].values, sunset, atol=1e-9)
    np.testing.assert_allclose(got["daylength"].values, daylength, atol=1e-9)


def test_sun_times_polar(spark, stations):
    # station s3 at 68.5°N: polar night in december, midnight sun in june
    dates = pd.DataFrame(
        dict(date=pd.date_range("2016-01-01", "2016-12-31", freq="D").date)
    )
    df = spark.createDataFrame(dates)
    got = df.withColumns(sun_times_exprs("date", 20.0, 68.5, 1.0)).toPandas()
    got["m"] = pd.to_datetime(got["date"]).dt.month
    dec = got[got.m == 12]
    jun = got[got.m == 6]
    assert (dec.daylength < 1e-9).any()
    assert (jun.daylength > 23.9).any()


def test_potential_radiation_night_zero(spark):
    ts = pd.date_range("2016-06-01", periods=240, freq="h")
    df = spark.createDataFrame(pd.DataFrame(dict(ts=ts)))
    got = df.select(
        F.col("ts"),
        potential_radiation(F.col("ts"), 8.86, 51.0, 1.0).alias("pr"),
    ).toPandas()
    got["h"] = got.ts.dt.hour
    night = got[(got.h <= 2) | (got.h >= 23)]
    assert (night.pr.abs() < 1e-6).all()
    noon = got[got.h == 12]
    assert (noon.pr > 600).all()


def test_detect_gaps_and_drop_incomplete_days(spark):
    ts = pd.date_range("2016-01-01 05:00", periods=200, freq="h")
    ts = ts[(ts < "2016-01-04 07:00") | (ts >= "2016-01-04 10:00")]  # 3h gap
    pdf = pd.DataFrame(dict(station_id="x", ts=ts, v=1.0))
    df = spark.createDataFrame(pdf)

    gaps = detect_gaps(df, 3600).collect()
    assert gaps[0]["n_gaps"] == 1

    full = drop_incomplete_days(df)
    got = full.toPandas().sort_values("ts")
    assert got.ts.iloc[0].hour == 0
    assert got.ts.iloc[-1].hour == 23


def test_mean_course_normalized(met_hourly):
    mc = mean_daily_course_by_month(met_hourly, "temp", normalize=True)
    assert mc.count() == 3 * 12 * 24
    stats = mc.groupBy("station_id", "month").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bad = stats.filter((F.abs(F.col("lo")) > 1e-9) | (F.abs(F.col("hi") - 1) > 1e-9))
    assert bad.count() == 0


def test_month_hour_precip_mean_matches_pandas(met_hourly, met_hourly_pd):
    got = (
        month_hour_precip_mean(met_hourly)
        .filter(F.col("station_id") == "s1")
        .toPandas()
        .set_index(["month", "hour", "wet"])
        .sort_index()
    )
    pdf = met_hourly_pd[met_hourly_pd.station_id == "s1"].set_index("ts")
    wetday = pdf.precip.resample("D").sum() > 0
    wet = wetday.loc[pd.to_datetime(pdf.index.date)].values
    exp = (
        pdf.hum.groupby([pdf.index.month, pdf.index.hour, wet]).mean().sort_index()
    )
    np.testing.assert_allclose(got["hum_mean"].values, exp.values, rtol=1e-9)


def test_drop_incomplete_days_with_shift(spark):
    """shift=7: recording days run 07:00-06:00 (`util/util.py:307-313`)."""
    import pandas as pd

    ts = pd.date_range("2016-01-01 03:00", periods=30 * 24, freq="h")
    df = spark.createDataFrame(pd.DataFrame(dict(station_id="x", ts=ts, v=1.0)))
    got = drop_incomplete_days(df, shift=7).toPandas().sort_values("ts")
    assert got.ts.iloc[0].hour == 7
    assert got.ts.iloc[-1].hour == 6
    assert len(got) % 24 == 0


def test_sessionize(spark):
    import pandas as pd
    from melodist_spark.util.gaps import sessionize

    rows = pd.DataFrame(
        {
            "station_id": ["u"] * 5 + ["v"] * 2,
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00", "2024-01-01 10:10",  # session 0
                    "2024-01-01 11:30",                       # session 1 (80m gap)
                    "2024-01-01 11:50", "2024-01-01 12:15",  # s1, s1 (25m gaps)
                    "2024-01-01 09:00", "2024-01-02 09:00",  # v: s0, s1
                ]
            ),
        }
    )
    got = (
        sessionize(spark.createDataFrame(rows), gap="30 minutes")
        .toPandas()
        .sort_values(["station_id", "ts"])
    )
    assert list(got[got.station_id == "u"]["session_id"]) == [0, 0, 1, 1, 1]
    assert list(got[got.station_id == "v"]["session_id"]) == [0, 1]

    # boundary rule matches streaming session_window's half-open
    # [start, last + gap): a gap of EXACTLY the threshold starts a new
    # session
    exact = pd.DataFrame(
        {
            "station_id": ["w"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:30", "2024-01-01 10:59"]
            ),
        }
    )
    got2 = (
        sessionize(spark.createDataFrame(exact), gap="30 minutes")
        .toPandas()
        .sort_values("ts")
    )
    assert list(got2["session_id"]) == [0, 1, 1]


def test_streaming_sessions(spark, tmp_path):
    import pandas as pd
    from melodist_spark.streaming.daily_agg import streaming_sessions

    rows = pd.DataFrame(
        {
            "station_id": ["u"] * 4,
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:10",
                 "2024-01-01 12:00", "2024-01-01 12:05"]
            ),
        }
    )
    src = str(tmp_path / "sess_events")
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
    # a later event in a second micro-batch advances the watermark past
    # the second session's close so it finalizes; its own session
    # stays open (append mode emits only closed sessions)
    late = pd.DataFrame(
        {"station_id": ["u"], "ts": pd.to_datetime(["2024-01-01 14:00"])}
    )
    spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sess").toPandas().sort_values("session_start")
    # two sessions of 2 events each (the open tail session may be held
    # back by the watermark; with 0s delay + availableNow both close)
    assert list(got["n_events"]) == [2, 2]


def test_bench_anchor_rerun_budget():
    """bench.py's stall gate: per-query cap of 2 reruns, global
    budget of 12, worst-ratio-first ordering — a uniform whole-run
    stall (every row ~1.5x its anchor) must stop after the budget
    instead of doubling the run, while a single-row stall gets its
    two attempts and recovers."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    # single stalled row: two reruns, second one recovers
    timings = {"a": 3.0, "b": 1.0}
    anchor = {"a": 1.0, "b": 1.0}
    seq = iter([2.9, 1.05])
    calls = []

    def rerun(name):
        calls.append(name)
        return next(seq)

    rr = bench._anchor_reruns(timings, anchor, rerun)
    assert calls == ["a", "a"]
    assert timings["a"] == 1.05
    assert rr == {"a": [2.9, 1.05]}

    # uniform whole-run stall: 53 rows all 1.5x over -> exactly the
    # global budget of attempts, worst ratio first
    timings = {f"q{i}": 1.5 + i * 0.01 for i in range(53)}
    anchor = {f"q{i}": 1.0 for i in range(53)}
    calls = []
    rr = bench._anchor_reruns(
        timings, anchor, lambda n: (calls.append(n), 1.49)[1]
    )
    assert len(calls) == 12
    assert calls[0] == "q52"  # worst ratio first
    assert sum(len(v) for v in rr.values()) == 12
