"""Temperature disaggregation: differential vs reference math (pandas
oracle on one station) + conservation invariants (SURVEY.md §5)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from melodist_spark.operators.aggregations import mean_daily_course_by_month
from melodist_spark.operators.temperature import (
    disaggregate_temperature,
    get_shift_by_data,
)


def _pandas_sine_min_max_fix(daily: pd.DataFrame) -> pd.Series:
    """Reference `temperature.py:61-171`, min_max_time='fix', no polar."""
    idx = pd.date_range(
        daily.index.min(), daily.index.max() + pd.Timedelta(hours=23), freq="h"
    )
    loc = pd.DataFrame(index=daily.index)
    loc["min_loc"] = 7
    loc["max_loc"] = 14
    loc["min_val_cur"] = daily.tmin
    loc["max_val_cur"] = daily.tmax
    loc["min_val_next"] = daily.tmin.shift(-1)
    loc["max_val_next"] = daily.tmax.shift(-1)
    loc.iloc[-1, loc.columns.get_loc("min_val_next")] = daily.tmin.iloc[-1]
    loc.iloc[-1, loc.columns.get_loc("max_val_next")] = daily.tmax.iloc[-1]
    loc["min_val_before"] = daily.tmin.shift(1)
    loc["max_val_before"] = daily.tmax.shift(1)
    loc.iloc[0, loc.columns.get_loc("min_val_before")] = daily.tmin.iloc[0]
    loc.iloc[0, loc.columns.get_loc("max_val_before")] = daily.tmax.iloc[0]

    lh = loc.reindex(idx, method="ffill")
    hour = idx.hour

    min_val = lh.min_val_next.copy()
    min_val[hour < lh.max_loc] = lh.min_val_cur
    max_val = lh.max_val_cur.copy()
    max_val[hour < lh.min_loc] = lh.max_val_before

    delta = max_val - min_val
    v_trans = min_val + delta / 2.0
    return v_trans + delta / 2.0 * np.cos(2 * np.pi / 24 * (hour - lh.max_loc))


def test_sine_min_max_fix_matches_pandas(met_daily):
    got = (
        disaggregate_temperature(
            met_daily.filter(F.col("station_id") == "s1"),
            method="sine_min_max",
            min_max_time="fix",
        )
        .orderBy("ts")
        .toPandas()
    )
    daily = (
        met_daily.filter(F.col("station_id") == "s1")
        .select("date", "temp", "tmin", "tmax")
        .orderBy("date")
        .toPandas()
    )
    daily["date"] = pd.to_datetime(daily["date"])
    daily = daily.set_index("date")
    exp = _pandas_sine_min_max_fix(daily)
    np.testing.assert_allclose(got["temp"].values, exp.values, atol=1e-9)


def test_sine_min_max_preserves_extremes(met_daily):
    out = disaggregate_temperature(met_daily, method="sine_min_max", min_max_time="fix")
    redaily = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.min("temp").alias("rmin"), F.max("temp").alias("rmax")
    )
    # with the smooth-transition rule the daily max hour (14) hits tmax
    # exactly (reference invariant, `tests/test_temperature.py:35-36`)
    at_max = (
        out.filter(F.hour("ts") == 14)
        .groupBy("station_id", F.to_date("ts").alias("date"))
        .agg(F.first("temp").alias("t14"))
        .join(met_daily, ["station_id", "date"])
    )
    assert at_max.filter(F.abs(F.col("t14") - F.col("tmax")) > 1e-3).count() == 0
    assert out.filter(F.col("temp").isNull()).count() == 0


def test_sine_mean_preserves_mean_shape(met_daily):
    out = disaggregate_temperature(met_daily, method="sine_mean", min_max_time="fix")
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.avg("temp").alias("m")
    )
    j = re.join(met_daily, ["station_id", "date"])
    # cosine over a full 24h cycle integrates to ~0 → daily mean ≈ temp
    dev = j.select(F.max(F.abs(F.col("m") - F.col("temp"))).alias("d")).collect()[0]["d"]
    assert dev < 1.0


def test_mean_course_min_max_bounds(met_hourly, met_daily):
    mc = mean_daily_course_by_month(met_hourly, "temp", normalize=True)
    out = disaggregate_temperature(
        met_daily, method="mean_course_min_max", mean_course=mc
    )
    j = (
        out.select("station_id", "ts", F.col("temp").alias("temp_h"))
        .withColumn("date", F.to_date("ts"))
        .join(met_daily, ["station_id", "date"])
    )
    bad = j.filter(
        (F.col("temp_h") < F.col("tmin") - 1e-6)
        | (F.col("temp_h") > F.col("tmax") + 1e-6)
    )
    assert bad.count() == 0


def test_mean_course_mean_matches_pandas(met_hourly, met_hourly_pd, met_daily):
    mc = mean_daily_course_by_month(met_hourly, "temp", normalize=False)
    got = (
        disaggregate_temperature(
            met_daily.filter(F.col("station_id") == "s1"),
            method="mean_course_mean",
            mean_course=mc.filter(F.col("station_id") == "s1"),
        )
        .orderBy("ts")
        .toPandas()
    )

    pdf = met_hourly_pd[met_hourly_pd.station_id == "s1"].set_index("ts")
    course = pdf.temp.groupby([pdf.index.month, pdf.index.hour]).mean().unstack(0)
    course0 = course - course.mean()
    daily = pd.DataFrame(
        dict(
            temp=pdf.temp.resample("D").mean(),
            tmin=pdf.temp.resample("D").min(),
            tmax=pdf.temp.resample("D").max(),
        )
    )
    idx = pd.date_range(daily.index.min(), daily.index.max() + pd.Timedelta(hours=23), freq="h")
    dh = daily.reindex(idx, method="ffill")
    mc0 = course0.T.stack().loc[list(zip(idx.month, idx.hour))].values
    exp = dh.temp.values + (dh.tmax - dh.tmin).values * mc0
    np.testing.assert_allclose(got["temp"].values, exp, atol=1e-9)


def test_sun_loc_and_shift_run(met_daily, stations, met_hourly):
    out = disaggregate_temperature(
        met_daily, method="sine_min_max", min_max_time="sun_loc", stations=stations
    )
    assert out.count() == met_daily.count() * 24

    md = get_shift_by_data(met_hourly, stations)
    assert md.count() == 36  # 3 stations × 12 months
    out2 = disaggregate_temperature(
        met_daily,
        method="sine_min_max",
        min_max_time="sun_loc_shift",
        stations=stations,
        max_delta=md,
    )
    # finite except possibly unfilled polar leading hours
    n = out2.count()
    assert n == met_daily.count() * 24
    nulls = out2.filter(F.col("temp").isNull()).count()
    assert nulls < n * 0.01


def test_polar_station_flat_diurnal(met_daily, stations):
    """s3 (68.5°N) has polar nights in winter: those days must have a
    flat-ish profile anchored at hours 6/18 (`temperature.py:178-240`)."""
    out = disaggregate_temperature(
        met_daily.filter(F.col("station_id") == "s3"),
        method="sine_min_max",
        min_max_time="fix",
        stations=stations.filter(F.col("station_id") == "s3"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("station_id").orderBy("date")
    envelope = met_daily.filter(F.col("station_id") == "s3").select(
        "date",
        F.least(
            "tmin", F.lag("tmin", 1).over(w), F.lead("tmin", 1).over(w)
        ).alias("lo"),
        F.greatest(
            "tmax", F.lag("tmax", 1).over(w), F.lead("tmax", 1).over(w)
        ).alias("hi"),
    )
    dec = out.filter(F.month("ts") == 12).withColumn("date", F.to_date("ts"))
    j = dec.join(envelope, "date")
    # interpolated polar profile stays inside the 3-day tmin/tmax
    # envelope (anchors are day extremes; segments span day boundaries)
    bad = j.filter(
        (F.col("temp") < F.col("lo") - 1e-6) | (F.col("temp") > F.col("hi") + 1e-6)
    )
    assert bad.count() == 0
    assert dec.filter(F.col("temp").isNull()).count() < dec.count() * 0.05


def test_polar_kwarg_tristate(met_daily, stations, monkeypatch):
    """The ``polar=`` tri-state (VERDICT r10 item 7): ``'auto'`` probes
    max |lat| with a tiny driver agg at plan-BUILD time — fine for a
    metadata-sized stations table, a full upstream aggregation when
    ``stations`` is derived from the facts. Explicit ``True``/``False``
    must make plan construction action-free (the probe must NOT run),
    and ``True`` must reproduce auto's output exactly on a polar
    fleet while ``False`` skips the flattening machinery."""
    import melodist_spark.operators.temperature as T

    s3d = met_daily.filter(F.col("station_id") == "s3")
    s3m = stations.filter(F.col("station_id") == "s3")
    auto = disaggregate_temperature(
        s3d, method="sine_min_max", min_max_time="fix", stations=s3m
    )

    def _boom(_):
        raise AssertionError("_polar_possible ran despite explicit polar=")

    monkeypatch.setattr(T, "_polar_possible", _boom)
    forced = disaggregate_temperature(
        s3d, method="sine_min_max", min_max_time="fix", stations=s3m, polar=True
    )
    off = disaggregate_temperature(
        s3d, method="sine_min_max", min_max_time="fix", stations=s3m, polar=False
    )
    monkeypatch.undo()

    a = auto.orderBy("ts").toPandas()
    f = forced.orderBy("ts").toPandas()
    pd.testing.assert_frame_equal(a, f)
    # polar=False on a 68.5°N station: December polar-night days keep
    # the raw sine profile instead of the flattened interpolation, so
    # the two outputs must genuinely diverge
    o = off.orderBy("ts").toPandas()
    assert len(o) == len(a)
    dec = a["ts"].dt.month == 12
    assert (a.loc[dec, "temp"].fillna(-999) != o.loc[dec, "temp"].fillna(-999)).any()

    # Stations probes once per meta table: a temperature build and the
    # humidity build that fuses the same temperature share one probe,
    # and a caller's explicit polar= skips it
    from melodist_spark.api import Stations

    probes = []
    real = T._polar_possible

    def _count(st):
        probes.append(st)
        return real(st)

    monkeypatch.setattr(T, "_polar_possible", _count)
    st = Stations(s3m, s3d)
    temp = st.disaggregate_temperature("sine_min_max", min_max_time="fix")
    st.disaggregate_humidity("minimal")
    assert len(probes) == 1
    explicit = Stations(s3m, s3d)
    explicit.disaggregate_temperature("sine_min_max", min_max_time="fix", polar=True)
    explicit.disaggregate_humidity("minimal")
    assert len(probes) == 1
    monkeypatch.undo()
    pd.testing.assert_frame_equal(temp.orderBy("ts").toPandas(), a)


def test_q_temp_sine_variants_matches_public_ops(spark):
    """The registry row (one neighbour window, one sun tree, one
    hourly explode emitting all four method rows per hour) matches
    the public ``disaggregate_temperature`` call of each branch at the
    row's rounding."""
    import os
    import sys

    import pyspark.sql.functions as F

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    q = entry.q_temp_sine_variants(spark, sf_dir)
    daily = entry._met_daily(spark, sf_dir)
    stations = entry._met_stations(daily)
    # the row's sun_loc_shift calibration (latest warmest hour on ties)
    max_delta = entry._met_max_delta(spark, sf_dir)

    def snap(df):
        def norm(v):
            return "nan" if isinstance(v, float) and v != v else v

        return sorted(tuple(norm(v) for v in r) for r in df.collect())

    branches = {
        "mean": dict(method="sine_mean", min_max_time="fix"),
        "night": dict(
            method="sine_min_max", min_max_time="fix", mod_nighttime=True
        ),
        "sunloc": dict(
            method="sine_min_max",
            min_max_time="sun_loc",
            stations=stations,
            polar=False,
        ),
        "sunshift": dict(
            method="sine_min_max",
            min_max_time="sun_loc_shift",
            stations=stations,
            polar=False,
            max_delta=max_delta,
        ),
    }
    for method, kwargs in branches.items():
        got = snap(
            q.filter(F.col("method") == method).select(
                "user_id", "ts", "temp_h"
            )
        )
        want = snap(
            disaggregate_temperature(
                daily, keys=["user_id"], **kwargs
            ).select("user_id", "ts", F.round("temp", 6).alias("temp_h"))
        )
        assert got == want, f"branch {method} diverged from the public op"
