"""StationStatistics bundle: calibration + JSON round-trip
(`tests/test_io.py:11-66` is the reference model)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from melodist_spark.statistics import StationStatistics


@pytest.fixture(scope="module")
def stats(met_hourly, stations, met_daily):
    s = StationStatistics(met_hourly, stations)
    s.calc_wind_stats()
    s.calc_humidity_stats()
    s.calc_temperature_stats()
    s.calc_precipitation_stats()
    s.calc_radiation_stats(data_daily=met_daily)
    return s


def test_all_families_calibrated(stats):
    assert stats.wind.count() == 3
    assert stats.hum.count() == 3
    assert stats.temp_max_delta.count() == 36
    assert stats.temp_mean_course.count() == 3 * 288
    assert stats.glob_mean_course.count() == 3 * 288
    assert stats.glob_angstroem.count() == 36
    assert stats.glob_bristcamp.count() == 36
    assert stats.precip_stats.count() == 3


def test_json_roundtrip(stats, spark, tmp_path):
    path = str(tmp_path / "stats.json")
    stats.to_json(path)
    back = StationStatistics.from_json(spark, path)

    for attr in ("wind", "hum", "temp_max_delta", "glob_angstroem"):
        a = getattr(stats, attr).orderBy("station_id").toPandas()
        b = (
            getattr(back, attr)
            .orderBy("station_id")
            .toPandas()
            .reindex(columns=a.columns)
        )
        for c in a.columns:
            if a[c].dtype == object:
                assert (a[c].astype(str).values == b[c].astype(str).values).all()
            else:
                np.testing.assert_allclose(
                    a[c].values.astype(float), b[c].values.astype(float)
                )
    assert back.precip_months == stats.precip_months

    # cascade stats arrays survive
    from melodist_spark.operators.cascade import collect_cascade_stats

    orig = collect_cascade_stats(stats.precip_stats)
    rt = collect_cascade_stats(back.precip_stats)
    for k in orig:
        np.testing.assert_allclose(orig[k].p01, rt[k].p01)
        np.testing.assert_allclose(orig[k].wxx, rt[k].wxx)
        np.testing.assert_allclose(orig[k].threshold, rt[k].threshold)


def test_json_roundtrip_types_and_local_relations(stats, spark, tmp_path):
    """Every loaded table has the calibrated dtypes and is a JVM
    LocalRelation (no Python-RDD scan behind its broadcasts)."""
    path = str(tmp_path / "stats.json")
    stats.to_json(path)
    back = StationStatistics.from_json(spark, path)
    for attr in StationStatistics._FRAME_SPECS:
        loaded = getattr(back, attr)
        assert dict(loaded.dtypes) == dict(getattr(stats, attr).dtypes), attr
        plan = loaded._jdf.queryExecution().analyzed().toString()
        assert plan.startswith("LocalRelation"), (attr, plan)


def test_from_json_mixed_int_float_and_null(spark, tmp_path):
    """``1`` for one station and ``0.5`` for another load as doubles;
    a null parameter stays null, not NaN."""
    import json

    bundle = {
        "x": {"wind": [{"a": 1, "b": 0.5, "t_shift": None}],
              "hum": [{"a0": -1, "a1": 0.98, "kr": 12}], "precip_months": None},
        "y": {"wind": [{"a": 0.5, "b": 1, "t_shift": 14}],
              "hum": [{"a0": 0.25, "a1": 1, "kr": 12}], "precip_months": None},
    }
    path = tmp_path / "mixed.json"
    path.write_text(json.dumps(bundle))
    back = StationStatistics.from_json(spark, str(path))
    assert back.wind.dtypes == [
        ("station_id", "string"), ("a", "double"), ("b", "double"), ("t_shift", "double"),
    ]
    assert dict(back.hum.dtypes)["kr"] == "int"
    rows = {r["station_id"]: r for r in back.wind.collect()}
    assert rows["x"]["a"] == 1.0 and rows["y"]["a"] == 0.5
    assert rows["x"]["t_shift"] is None
    assert rows["y"]["t_shift"] == 14.0


def test_stats_feed_disaggregation(stats, met_daily, stations):
    """The calibrated bundle drives the actual operators end-to-end."""
    from melodist_spark.operators.temperature import disaggregate_temperature
    from melodist_spark.operators.wind import disaggregate_wind

    t = disaggregate_temperature(
        met_daily,
        method="mean_course_min_max",
        mean_course=stats.temp_mean_course,
    )
    assert t.filter(F.col("temp").isNull()).count() == 0
    w = disaggregate_wind(met_daily, method="cosine", wind_params=stats.wind)
    assert w.filter(F.col("wind") < 0).count() == 0
