"""Cascade model: calibration statistics validity + disaggregation
conservation/distribution invariants (SURVEY.md §2.8, §5).

Golden comparison against the reference is impossible (its RNG is
unseeded); statistical invariants + seeded reproducibility are the
correctness instruments, as in the reference's own test suite.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cascade_oracle import (
    aggregate_precipitation_values,
    build_casc_values,
    cascade_uniforms,
    disagg_station,
)
from melodist_spark.operators.cascade import (
    CascadeStatistics,
    build_casc,
    collect_cascade_stats,
    disagg_prec_cascade,
)


def test_aggregate_statistics_are_probabilities():
    rng = np.random.default_rng(0)
    wet = rng.random(8760) < 0.3
    x = np.where(wet, rng.gamma(0.7, 2.0, 8760), 0.0)
    stats, v = aggregate_precipitation_values(x, percentile=50)
    assert len(v) == 4380
    # p01 + p10 + pxx = 1 per populated (intensity, boxtype) cell
    total = stats.p01 + stats.p10 + stats.pxx
    assert np.allclose(total, 1.0, atol=1e-9)
    # wxx sums to 1 over the 7 weight classes where pxx observed
    wsum = stats.wxx.sum(axis=0)
    assert np.allclose(wsum[~np.isnan(wsum)], 1.0, atol=1e-9)
    # pair sums conserve mass
    assert v.sum() == pytest.approx(x[: 2 * len(v)].sum())


def test_sparse_series_falls_back_to_sample_data():
    x = np.array([0.0, 1.0, 0.0, 0.0, 2.0, 0.0, 0.0, 0.0])
    stats, _ = aggregate_precipitation_values(x)
    ref = CascadeStatistics()
    ref.fill_with_sample_data()
    assert np.allclose(stats.p01, ref.p01)


def test_build_casc_values_threshold_levels():
    rng = np.random.default_rng(1)
    wet = rng.random(2 * 8760) < 0.35
    x = np.where(wet, rng.gamma(0.7, 2.0, len(wet)), 0.0)
    avg, per_level = build_casc_values(x, hourly=True)
    assert len(per_level) == 5
    assert len(avg.threshold) == 5
    # thresholds grow with aggregation scale
    assert np.all(np.diff(avg.threshold) > 0)
    assert np.allclose(avg.p01 + avg.p10 + avg.pxx, 1.0, atol=1e-9)


def test_build_casc_spark_matches_kernel(spark, met_hourly_pd):
    """Every (station, season, level) row of build_casc equals the numpy
    oracle's statistics to 1e-12: each level and the count-weighted
    level mean, hourly and 5-minute (level 9), one season and four;
    with an all-dry station, a sparse one that takes the sample data,
    and an odd-length series with gaps."""
    steps = pd.date_range("2014-01-01", periods=24 * 40 + 7, freq="h")
    i = np.arange(len(steps))
    extra = [
        pd.DataFrame(dict(station_id="dry", ts=steps, precip=0.0)),
        pd.DataFrame(dict(station_id="sparse", ts=steps, precip=np.where(i % 97 == 0, 1.5, 0.0))),
        pd.DataFrame(
            dict(station_id="odd", ts=steps, precip=np.where(i % 3 == 0, i % 5 * 0.3, np.nan))
        ),
    ]
    pdf = pd.concat([met_hourly_pd[["station_id", "ts", "precip"]], *extra], ignore_index=True)
    df = spark.createDataFrame(pdf)
    seasonal = [[3, 4, 5], [6, 7, 8], [9, 10, 11], [12, 1, 2]]
    sample = CascadeStatistics()
    sample.fill_with_sample_data()
    for kw in (
        dict(),
        dict(avg_stats=False),
        dict(hourly=False, level=9),
        dict(hourly=False, level=9, avg_stats=False),
        dict(months=seasonal),
        dict(months=seasonal, avg_stats=False),
    ):
        got = {(r.station_id, r.season, r.level): r for r in build_casc(df, **kw).collect()}
        n_sample = 0
        for sid, g in pdf.groupby("station_id"):
            g = g.sort_values("ts")
            for season, months in enumerate(kw.get("months", [list(range(1, 13))])):
                x = g[g.ts.dt.month.isin(months)]["precip"].to_numpy()
                if not len(x):
                    continue
                avg, per_level = build_casc_values(
                    x, hourly=kw.get("hourly", True), level=kw.get("level", 9)
                )
                exp = {-1: avg} if kw.get("avg_stats", True) else dict(enumerate(per_level))
                for level, e in exp.items():
                    r = got.pop((sid, season, level))
                    for a in ("p01", "p10", "pxx", "wxx", "threshold"):
                        np.testing.assert_allclose(
                            np.array(r[a], dtype=float), np.ravel(getattr(e, a)),
                            rtol=0, atol=1e-12, err_msg=f"{kw} {sid} {season} {level} {a}",
                        )
                    assert r.percentile == 50.0
                    n_sample += sid in ("dry", "sparse") and np.allclose(e.p01, sample.p01)
        assert not got, f"{kw}: rows without an oracle row {sorted(got)[:5]}"
        assert n_sample > 0, kw  # the dry and sparse stations take the sample data


def test_calibration_does_not_depend_on_partitioning(spark, met_hourly_pd):
    """build_casc and fit_bristow_campbell_params give the same rows
    whether the input comes in 1, 5 or 64 partitions, with AQE on and
    off (README, "Determinism at scale"): bit-equal, per level."""
    from melodist_spark.operators.radiation import fit_bristow_campbell_params

    hourly = spark.createDataFrame(
        met_hourly_pd[met_hourly_pd.station_id.isin(["s1", "s2"])][["station_id", "ts", "precip"]]
        .groupby("station_id").head(24 * 90)
    )
    rng = np.random.default_rng(3)
    n = 150
    days = pd.concat(
        [
            pd.DataFrame(
                dict(
                    station_id=sid,
                    date=pd.date_range("2015-02-01", periods=n, freq="D").date,
                    tmin=t0 + rng.normal(0, 2, n),
                    tmax=t0 + 9 + rng.gamma(3.0, 2.0, n),
                    pot_rad_daily=200 + rng.random(n) * 100,
                    obs_rad_daily=80 + rng.random(n) * 60,
                )
            )
            for sid, t0 in (("a", 275.0), ("b", 281.0), ("c", 288.0))
        ],
        ignore_index=True,
    )
    daily = spark.createDataFrame(days)
    cases = {
        "calibrate per level": lambda n: build_casc(
            hourly.repartition(n), months=[[1, 2], [3]], avg_stats=False
        ),
        "calibrate avg": lambda n: build_casc(hourly.repartition(n)),
        "bristow-campbell": lambda n: fit_bristow_campbell_params(daily.repartition(n)),
    }
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for name, run in cases.items():
            results = []
            for enabled in ("true", "false"):
                spark.conf.set("spark.sql.adaptive.enabled", enabled)
                results += [sorted(map(repr, run(n).collect())) for n in (1, 5, 64)]
            assert len(results[0]) > 0, name
            assert all(r == results[0] for r in results), name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


@pytest.fixture(scope="module")
def casc_df(spark, met_hourly):
    return build_casc(met_hourly, percentile=50)


@pytest.fixture(scope="module")
def casc_s1(casc_df):
    return collect_cascade_stats(casc_df)[("s1", 0)]


def test_to_row_from_row_round_trip():
    s, _ = build_casc_values(
        np.where(np.arange(4096) % 5 == 0, np.arange(4096) % 7, 0.0), hourly=True
    )
    row = s.to_row()
    assert len(row["p01"]) == 8 and len(row["wxx"]) == 56 and len(row["threshold"]) == 5
    back = CascadeStatistics.from_row(row)
    for a in ("p01", "p10", "pxx", "wxx", "threshold"):
        np.testing.assert_array_equal(getattr(back, a), getattr(s, a))
    assert back.percentile == s.percentile
    assert back.to_row() == row


def test_disagg_cascade_conserves_daily_sums(met_daily, casc_df):
    out = disagg_prec_cascade(met_daily, casc_df, hourly=True, seed=11)
    assert out.count() == met_daily.count() * 24
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.sum("precip").alias("s")
    )
    j = re.join(met_daily.select("station_id", "date", "precip"), ["station_id", "date"])
    # conservation: daily sums preserved atol=1e-3
    # (`tests/test_precipitation.py:14`)
    assert j.filter(F.abs(F.col("s") - F.col("precip")) > 1e-3).count() == 0
    assert out.filter(F.col("precip") < 0).count() == 0


def test_disagg_cascade_seeded_reproducible(met_daily, casc_df):
    a = disagg_prec_cascade(met_daily, casc_df, seed=5).orderBy("station_id", "ts").toPandas()
    b = disagg_prec_cascade(met_daily, casc_df, seed=5).orderBy("station_id", "ts").toPandas()
    c = disagg_prec_cascade(met_daily, casc_df, seed=6).orderBy("station_id", "ts").toPandas()
    np.testing.assert_allclose(a["precip"].values, b["precip"].values, equal_nan=True)
    assert not np.allclose(
        np.nan_to_num(a["precip"].values), np.nan_to_num(c["precip"].values)
    )


def test_disagg_cascade_missing_days_masked(spark, casc_s1):
    pdf = pd.DataFrame(
        dict(
            station_id="s1",
            date=pd.date_range("2015-01-01", periods=20, freq="D").date,
            precip=[1.0, 2.0, np.nan, 4.0, 0.0] * 4,
        )
    )
    daily = spark.createDataFrame(pdf)
    out = disagg_prec_cascade(daily, casc_s1, seed=3)
    got = out.toPandas()
    got["date"] = got["ts"].dt.date
    nan_days = got[got.precip.isna()]["date"].unique()
    assert sorted(nan_days) == sorted(pdf[pdf.precip.isna()]["date"].unique())


def test_disagg_cascade_shift(spark, casc_s1):
    pdf = pd.DataFrame(
        dict(
            station_id="s1",
            date=pd.date_range("2015-01-01", periods=10, freq="D").date,
            precip=np.linspace(0, 9, 10),
        )
    )
    daily = spark.createDataFrame(pdf)
    base = disagg_prec_cascade(daily, casc_s1, seed=3).orderBy("ts").toPandas()
    shifted = (
        disagg_prec_cascade(daily, casc_s1, seed=3, shift=7)
        .orderBy("ts")
        .toPandas()
    )
    np.testing.assert_allclose(
        shifted["precip"].values[7:], base["precip"].values[:-7], equal_nan=True
    )
    assert shifted["precip"].values[:7].tolist() == [None] * 7 or np.isnan(
        shifted["precip"].values[:7]
    ).all()


def test_disagg_cascade_5min_conserves(spark, met_hourly, met_daily):
    """5-min path at level 9 (`precipitation.py:307-311`)."""
    # calibrate on a synthetic 5-min series for one station
    rng = np.random.default_rng(2)
    n = 288 * 200
    wet = rng.random(n) < 0.2
    x = np.where(wet, rng.gamma(0.5, 0.4, n), 0.0)
    avg, _ = build_casc_values(x, hourly=False, level=9)

    daily = met_daily.filter(F.col("station_id") == "s1").select(
        "station_id", "date", "precip"
    )
    out = disagg_prec_cascade(daily, avg, hourly=False, level=9, seed=9)
    n_days = daily.count()
    assert out.count() == n_days * 288
    re = out.groupBy(F.to_date("ts").alias("date")).agg(F.sum("precip").alias("s"))
    j = re.join(daily, "date")
    assert j.filter(F.abs(F.col("s") - F.col("precip")) > 1e-3).count() == 0


def test_per_level_stats_disagg(spark, met_hourly, met_daily):
    """avg_stats=False: one CascadeStatistics per level, the disagg
    consumes the 5-element list (`precipitation.py:108-123`)."""
    stats_df = build_casc(met_hourly, avg_stats=False)
    d = collect_cascade_stats(stats_df)
    lv = d[("s1", 0)]
    assert isinstance(lv, list) and len(lv) == 5
    daily = met_daily.filter(F.col("station_id") == "s1").select(
        "station_id", "date", "precip"
    )
    out = disagg_prec_cascade(daily, lv, seed=2)
    re = out.groupBy(F.to_date("ts").alias("date")).agg(F.sum("precip").alias("s"))
    j = re.join(daily, "date")
    assert j.filter(F.abs(F.col("s") - F.col("precip")) > 1e-3).count() == 0


def test_multi_season_calibration_and_disagg(spark, met_hourly, met_daily, stations):
    """Seasonal routing through the Stations API with 4 seasons
    (`station.py:338-348`)."""
    from melodist_spark.api import Stations

    st = Stations(stations, met_daily)
    from melodist_spark.statistics import StationStatistics, MONTH_RANGES

    s = StationStatistics(met_hourly, stations)
    s.calc_precipitation_stats(months=MONTH_RANGES["seasonal"])
    st.statistics = s
    out = st.disaggregate_precipitation("cascade", seed=4)
    assert out.count() == met_daily.count() * 24
    re = out.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.sum("precip").alias("s")
    )
    j = re.join(met_daily.select("station_id", "date", "precip"), ["station_id", "date"])
    assert j.filter(F.abs(F.col("s") - F.col("precip")) > 1e-3).count() == 0


def test_disagg_stats_dataframe_matches_dict(met_daily, casc_df, casc_s1):
    """The DataFrame stats path (per-station join, nothing collected to
    the driver) must reproduce station s1's collected statistics
    passed as one fleet-wide CascadeStatistics exactly."""
    s1 = met_daily.filter(F.col("station_id") == "s1")
    via_df = (
        disagg_prec_cascade(s1, casc_df, seed=11)
        .orderBy("station_id", "ts")
        .toPandas()
    )
    via_dict = (
        disagg_prec_cascade(s1, casc_s1, seed=11)
        .orderBy("station_id", "ts")
        .toPandas()
    )
    np.testing.assert_allclose(
        via_df["precip"].values, via_dict["precip"].values, equal_nan=True
    )


def test_disagg_stats_dataframe_per_level(met_hourly, met_daily):
    """Per-level stats rows (avg_stats=False) reconstruct the 5-element
    list inside the kernel via the stats join."""
    stats_df = build_casc(met_hourly, avg_stats=False)
    lv = collect_cascade_stats(stats_df)[("s1", 0)]
    s1 = met_daily.filter(F.col("station_id") == "s1")
    via_df = (
        disagg_prec_cascade(s1, stats_df, seed=2)
        .orderBy("station_id", "ts")
        .toPandas()
    )
    via_dict = (
        disagg_prec_cascade(s1, lv, seed=2)
        .orderBy("station_id", "ts")
        .toPandas()
    )
    np.testing.assert_allclose(
        via_df["precip"].values, via_dict["precip"].values, equal_nan=True
    )


def test_multi_key_stations_not_merged(spark):
    """ADVICE r1: with composite keys, stations sharing the first key
    component must stay separate series (full-tuple grouping)."""
    stats = CascadeStatistics()
    stats.fill_with_sample_data()
    days = pd.date_range("2015-01-01", periods=30, freq="D").date
    pdf = pd.concat(
        [
            pd.DataFrame(dict(net="n1", sid="a", date=days, precip=2.0)),
            pd.DataFrame(dict(net="n1", sid="b", date=days, precip=5.0)),
        ],
        ignore_index=True,
    )
    daily = spark.createDataFrame(pdf)
    out = disagg_prec_cascade(daily, stats, seed=3, keys=["net", "sid"])
    got = out.groupBy("net", "sid", F.to_date("ts").alias("date")).agg(
        F.sum("precip").alias("s")
    ).toPandas()
    # daily conservation PER composite station — a keys[0]-only grouping
    # would interleave the two series and break it
    assert len(got) == 60
    a = got[got.sid == "a"]["s"]
    b = got[got.sid == "b"]["s"]
    np.testing.assert_allclose(a, 2.0, atol=1e-9)
    np.testing.assert_allclose(b, 5.0, atol=1e-9)


def test_emit_daily_matches_fullgrid_reagg(met_daily, casc_df, casc_s1):
    """emit='daily' is the in-kernel partial aggregation of the exact
    same stochastic grid: per (station, date) it must equal the
    shuffle re-aggregation of the steps path, null-for-null."""
    for hourly, level, steps in ((True, 9, 24), (False, 9, 288)):
        opts = casc_df if hourly else [casc_s1] * 9
        full = disagg_prec_cascade(
            met_daily, opts, hourly=hourly, level=level, seed=13
        )
        re = (
            full.groupBy("station_id", F.to_date("ts").alias("date"))
            .agg(F.sum("precip").alias("precip"))
            .orderBy("station_id", "date")
            .toPandas()
        )
        day = (
            disagg_prec_cascade(
                met_daily, opts, hourly=hourly, level=level, seed=13,
                emit="daily",
            )
            .orderBy("station_id", "date")
            .toPandas()
        )
        assert (day["n_steps"] == steps).all()
        np.testing.assert_allclose(
            day["precip"].to_numpy(dtype=float),
            re["precip"].to_numpy(dtype=float),
            atol=1e-9,
            equal_nan=True,
        )


def test_emit_daily_rejects_shift():
    stats = CascadeStatistics()
    stats.fill_with_sample_data()
    with pytest.raises(ValueError, match="shift"):
        disagg_prec_cascade(None, stats, shift=2, emit="daily")


def test_dict_stats_rejected():
    """Statistics come as the build_casc DataFrame or one fleet-wide
    CascadeStatistics / per-level list; anything else fails at call
    time, not inside a task."""
    with pytest.raises(TypeError, match="cascade_options"):
        disagg_prec_cascade(None, {("s1", 0): CascadeStatistics()})


def test_absent_hour_calibrates_like_null_hour(spark, met_hourly_pd):
    """An hour missing from the calibration data must count as the null
    hour it stands for, not shift the dyadic pairing of every later
    hour."""
    from melodist_spark.statistics import StationStatistics

    pdf = (
        met_hourly_pd[met_hourly_pd.station_id == "s1"][["station_id", "ts", "precip"]]
        .sort_values("ts")
        .head(24 * 120)
        .reset_index(drop=True)
    )
    gone = [101, 2000]
    absent = pdf.drop(index=gone)
    nulled = pdf.assign(precip=pdf["precip"].where(~pdf.index.isin(gone)))
    got = [
        collect_cascade_stats(
            StationStatistics(spark.createDataFrame(f))
            .calc_precipitation_stats()
            .precip_stats
        )[("s1", 0)]
        for f in (absent, nulled)
    ]
    for attr in ("p01", "p10", "pxx", "wxx", "threshold"):
        np.testing.assert_array_equal(getattr(got[0], attr), getattr(got[1], attr), attr)


def _expected(pdf, opts, keys, seed, **kw):
    """The numpy oracle's output for every station of ``pdf``, in
    (keys, date) order, fed the engine's md5-keyed uniforms."""
    out = []
    for key, g in pdf.sort_values([*keys, "date"]).groupby(keys, sort=True):
        key = key if isinstance(key, tuple) else (key,)
        days = [(d - dt.date(1970, 1, 1)).days for d in g["date"]]
        o = opts.get(key) if isinstance(opts, dict) else opts
        x = g["precip"].to_numpy(dtype=float)
        out.append(disagg_station(x, o, cascade_uniforms(key, seed, days), **kw))
    return np.concatenate(out)


def test_disagg_matches_numpy_oracle(spark, met_hourly, met_daily):
    """Fed the same uniforms, recomputed with hashlib from the engine's
    key strings, the moved numpy kernel gives the JVM output bit for
    bit; ``emit='daily'`` within 1e-12 relative, because numpy sums a
    day's steps pairwise. Covers hourly and level 9, averaged and
    per-level statistics, the build_casc frame and fleet-wide
    statistics, missing days, both shift directions, a multi-key
    station and both emit modes."""
    pdf = met_daily.filter(F.col("date") < dt.date(2014, 3, 15)).select("station_id", "date", "precip").toPandas()
    pdf.loc[(pdf.station_id == "s2") & pdf.date.isin([dt.date(2014, 1, 9), dt.date(2014, 2, 1)]), "precip"] = None
    pdf.loc[(pdf.station_id == "s3") & (pdf.date == dt.date(2014, 1, 20)), "precip"] = np.nan
    daily = spark.createDataFrame(pdf)
    hourly_part = met_hourly.filter(F.col("ts") < "2014-07-01")
    avg_df = build_casc(hourly_part)
    lv9_df = build_casc(hourly_part, hourly=False, level=9, avg_stats=False)
    avg, lv9 = collect_cascade_stats(avg_df), collect_cascade_stats(lv9_df)
    fleet_lv5 = collect_cascade_stats(build_casc(hourly_part, avg_stats=False))[("s1", 0)]
    fleet_avg = avg[("s2", 0)]
    frame = {k: {(sid,): v for (sid, _), v in d.items()} for k, d in (("avg", avg), ("lv9", lv9))}
    cases = [
        (avg_df, frame["avg"], dict(seed=11)),
        (lv9_df, frame["lv9"], dict(hourly=False, level=9, seed=5)),
        (fleet_avg, fleet_avg, dict(seed=3, shift=7)),
        (fleet_lv5, fleet_lv5, dict(seed=3, shift=-30)),
        (fleet_avg, fleet_avg, dict(seed=8, emit="daily")),
        ([fleet_avg] * 9, [fleet_avg] * 9, dict(hourly=False, level=9, seed=8, emit="daily")),
    ]
    for opts, oracle_opts, kw in cases:
        order = ["station_id", "date" if kw.get("emit") == "daily" else "ts"]
        got = disagg_prec_cascade(daily, opts, **kw).orderBy(*order).toPandas()["precip"]
        exp = _expected(pdf, oracle_opts, ["station_id"], **kw)
        if kw.get("emit") == "daily":
            np.testing.assert_allclose(got.to_numpy(dtype=float), exp, rtol=1e-12, atol=0, equal_nan=True,
                                       err_msg=str(kw))
        else:
            np.testing.assert_array_equal(got.to_numpy(dtype=float), exp, err_msg=str(kw))
        assert np.isnan(exp).any() and (exp > 0).any(), kw

    # (n1, s1), (n1, s2) and (n2, s1): each shares a key part with another
    two = pdf[pdf.station_id != "s3"]
    multi = pd.concat([two.assign(net="n1", sid=two.station_id), two[two.station_id == "s2"].assign(net="n2", sid="s1")])
    multi = multi.drop(columns="station_id")
    got = disagg_prec_cascade(spark.createDataFrame(multi), fleet_avg, seed=2, keys=["net", "sid"])
    got = got.orderBy("net", "sid", "ts").toPandas()["precip"].to_numpy(dtype=float)
    np.testing.assert_array_equal(got, _expected(multi, fleet_avg, ["net", "sid"], seed=2))


def test_disagg_does_not_depend_on_layout_or_record_extent(met_hourly, met_daily, layout_runs):
    """README, "Determinism at scale": the cascade's output is bit-equal
    under input repartitioning to 1, 5 and 64 partitions with AQE on
    and off, hourly and at level 9, from the build_casc frame and from
    a fleet-wide per-level list. A record extended by one day at each
    end keeps every day but the first two and last two of the original
    record: a new edge day can change the box types of those only."""
    first, last = dt.date(2014, 2, 1), dt.date(2014, 3, 31)
    day = F.col("date")
    base = met_daily.select("station_id", "date", "precip").filter(day.between(first, last))
    ext = met_daily.select("station_id", "date", "precip").filter(
        day.between(first - dt.timedelta(1), last + dt.timedelta(1))
    )
    keep = F.to_date("ts").between(first + dt.timedelta(2), last - dt.timedelta(2))
    hourly_part = met_hourly.filter(F.col("ts") < "2014-07-01")
    lv5 = collect_cascade_stats(build_casc(hourly_part, avg_stats=False))[("s1", 0)]
    lv9 = collect_cascade_stats(build_casc(hourly_part, hourly=False, level=9, avg_stats=False))[("s2", 0)]
    cases = {
        "hourly frame": lambda d: disagg_prec_cascade(d, build_casc(hourly_part), seed=11),
        "hourly list": lambda d: disagg_prec_cascade(d, lv5, seed=4),
        "level 9 frame": lambda d: disagg_prec_cascade(
            d, build_casc(hourly_part, hourly=False, level=9), hourly=False, level=9, seed=5
        ),
        "level 9 list": lambda d: disagg_prec_cascade(d, lv9, hourly=False, level=9, seed=6),
    }
    for name, run in cases.items():
        results = layout_runs(lambda d: run(d).filter(keep), [base, ext])
        assert len(results[0]) > 0, name
        assert all(r == results[0] for r in results), name
