"""Stateful streaming disaggregation vs the batch operator.

The daily rows are split into several parquet files and fed one file
per micro-batch (``maxFilesPerTrigger=1``), so the next-day/prev-day
dependencies genuinely cross micro-batch boundaries — the test fails
if the operator's GroupState does not carry the buffered day across
batches.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

from melodist_spark.operators.temperature import disaggregate_temperature
from melodist_spark.streaming.stateful import streaming_disaggregate_temperature


def test_streaming_matches_batch_across_microbatches(spark, met_daily, tmp_path):
    daily_pd = (
        met_daily.select("station_id", "date", "tmin", "tmax")
        .filter("date >= '2014-03-01' and date < '2014-03-13'")
        .toPandas()
        .sort_values(["station_id", "date"])
        .reset_index(drop=True)
    )
    n_days = daily_pd["date"].nunique()
    assert n_days == 12

    # 4 files of 3 days each, per station — one micro-batch per file
    src = str(tmp_path / "daily_src")
    dates = sorted(daily_pd["date"].unique())
    for i in range(0, len(dates), 3):
        chunk = daily_pd[daily_pd["date"].isin(dates[i : i + 3])]
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hourly = streaming_disaggregate_temperature(stream, idle_flush=None)
    q = (
        hourly.writeStream.format("memory")
        .queryName("stateful_temp")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from stateful_temp")
        .toPandas()
        .sort_values(["station_id", "ts"])
        .reset_index(drop=True)
    )

    # every day except the buffered tail is emitted (idle_flush=None:
    # the tail day stays in state waiting for a successor)
    stations = daily_pd["station_id"].nunique()
    assert len(got) == stations * (n_days - 1) * 24

    batch = (
        disaggregate_temperature(
            spark.createDataFrame(
                daily_pd.assign(temp=(daily_pd.tmin + daily_pd.tmax) / 2)
            ),
            method="sine_min_max",
            min_max_time="fix",
        )
        .toPandas()
        .sort_values(["station_id", "ts"])
        .reset_index(drop=True)
    )
    batch = batch[batch["ts"] < pd.Timestamp(max(dates))]
    merged = got.merge(batch, on=["station_id", "ts"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    np.testing.assert_allclose(
        merged["temp_s"].values, merged["temp_b"].values, rtol=0, atol=1e-9
    )


def test_streaming_gap_semantics(spark, tmp_path):
    # two days with a hole between them: the day before the hole gets
    # null evening values (no next tmin), matching the batch lead guard
    daily_pd = pd.DataFrame(
        {
            "station_id": ["g1"] * 3,
            "date": pd.to_datetime(["2015-06-01", "2015-06-02", "2015-06-04"]).date,
            "tmin": [280.0, 281.0, 282.0],
            "tmax": [290.0, 291.0, 292.0],
        }
    )
    src = str(tmp_path / "gap_daily")
    spark.createDataFrame(daily_pd).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_disaggregate_temperature(stream, idle_flush=None)
        .writeStream.format("memory")
        .queryName("stateful_gap")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from stateful_gap").toPandas()
    got["d"] = got["ts"].dt.date.astype(str)
    got["h"] = got["ts"].dt.hour

    # day 1 → day 2 consecutive: fully populated
    d1 = got[got["d"] == "2015-06-01"]
    assert len(d1) == 24 and d1["temp"].notna().all()
    # day 2 → day 4 gap: evening half (h >= 14) null, morning intact
    d2 = got[got["d"] == "2015-06-02"]
    assert len(d2) == 24
    assert d2[d2.h >= 14]["temp"].isna().all()
    assert d2[d2.h < 14]["temp"].notna().all()


def test_streaming_late_duplicate_rows_dropped(spark, tmp_path):
    """A later micro-batch re-sending already-processed days must not
    regress state: duplicates are ignored and output matches in-order
    processing of the distinct days."""
    src = str(tmp_path / "dup_daily")
    d1 = pd.DataFrame(
        {
            "station_id": ["d1"] * 2,
            "date": pd.to_datetime(["2015-06-01", "2015-06-02"]).date,
            "tmin": [280.0, 281.0],
            "tmax": [290.0, 291.0],
        }
    )
    # second file replays both old days and adds day 3
    d2 = pd.DataFrame(
        {
            "station_id": ["d1"] * 3,
            "date": pd.to_datetime(
                ["2015-06-01", "2015-06-02", "2015-06-03"]
            ).date,
            "tmin": [999.0, 999.0, 282.0],
            "tmax": [999.0, 999.0, 292.0],
        }
    )
    spark.createDataFrame(d1).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(d2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_disaggregate_temperature(stream, idle_flush=None)
        .writeStream.format("memory")
        .queryName("stateful_dup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from stateful_dup").toPandas()
    # days 1 and 2 emitted (day 3 buffered); replayed 999s never leak in
    assert len(got) == 2 * 24
    assert got["temp"].max() < 400.0


def test_duration_parser():
    from melodist_spark.streaming.stateful import _duration_ms

    assert _duration_ms("30 seconds") == 30_000
    assert _duration_ms("1 second") == 1_000
    assert _duration_ms("90s") == 90_000
    assert _duration_ms("5 min") == 300_000
    assert _duration_ms("2 hours") == 7_200_000
    assert _duration_ms("250 ms") == 250
    import pytest

    with pytest.raises(ValueError, match="cannot parse"):
        _duration_ms("2 hours 30 minutes")
    with pytest.raises(ValueError, match="cannot parse"):
        _duration_ms("fast")


def test_timeout_flush_matches_batch_last_row(spark):
    """The processing-time-timeout branch emits the buffered tail day
    with the batch is_last fallback (next tmin := own tmin); expanded
    to hours it equals the batch operator on that lone day."""
    from melodist_spark.streaming.stateful import _emit, _hourly

    pend = (16700, 280.0, 290.0, 290.0)  # (day, tmin, tmax, tmax_before)
    row = _emit(("s1",), ["station_id"], pend, pend[1])
    assert row["min_val_next"] == row["min_val_cur"] == 280.0
    assert row["date"] == datetime.date(2015, 9, 22)
    out = (
        _hourly(spark.createDataFrame(pd.DataFrame([row])), ["station_id"])
        .toPandas()
        .sort_values("ts")
    )
    day = pd.DataFrame(
        dict(station_id=["s1"], date=[row["date"]], tmin=[280.0], tmax=[290.0], temp=[285.0])
    )
    exp = (
        disaggregate_temperature(
            spark.createDataFrame(day), method="sine_min_max", min_max_time="fix"
        )
        .toPandas()
        .sort_values("ts")
    )
    assert (out["ts"].values == exp["ts"].values).all()
    assert (out["temp"].values == exp["temp"].values).all()
    assert out["station_id"].eq("s1").all() and len(out) == 24


def test_event_time_flush(spark, tmp_path):
    """A station whose successor day never arrives is flushed once the
    fleet's watermark passes its buffered day + horizon — keyed to
    data, not wall-clock."""
    src = str(tmp_path / "evt_daily")
    # batch 1: station A days 1-2, station B day 1
    b1 = pd.DataFrame(
        {
            "station_id": ["A", "A", "B"],
            "date": pd.to_datetime(
                ["2015-06-01", "2015-06-02", "2015-06-01"]
            ).date,
            "tmin": [280.0, 281.0, 270.0],
            "tmax": [290.0, 291.0, 280.0],
        }
    )
    # batch 2: only station B advances, far past A's buffered day
    b2 = pd.DataFrame(
        {
            "station_id": ["B"] * 2,
            "date": pd.to_datetime(["2015-06-07", "2015-06-08"]).date,
            "tmin": [271.0, 272.0],
            "tmax": [281.0, 282.0],
        }
    )
    # batch 3: B again, watermark moves further (triggers A's timeout)
    b3 = pd.DataFrame(
        {
            "station_id": ["B"],
            "date": pd.to_datetime(["2015-06-09"]).date,
            "tmin": [273.0],
            "tmax": [283.0],
        }
    )
    for b in (b1, b2, b3):
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)

    from melodist_spark.streaming.stateful import streaming_disaggregate_temperature

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_disaggregate_temperature(stream, flush_after="2 days")
        .writeStream.format("memory")
        .queryName("stateful_evt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from stateful_evt").toPandas()
    a = got[got.station_id == "A"].copy()
    a["d"] = a["ts"].dt.date.astype(str)
    # A emitted day 1 (successor arrived) AND day 2 (event-time flush:
    # watermark reached 2015-06-09 > day-2-end + 2 days)
    assert sorted(a["d"].unique()) == ["2015-06-01", "2015-06-02"]
    # flushed day uses the is_last fallback -> fully populated
    assert a[a.d == "2015-06-02"]["temp"].notna().all()


def test_event_time_flush_for_already_late_station(spark, tmp_path):
    """Regression: a station whose flush deadline is ALREADY behind the
    fleet watermark when its data arrives must emit inline — arming a
    watermark+1 timeout would never fire on a stream that then goes
    quiet, silently losing the buffered day."""
    src = str(tmp_path / "evt_late")
    # batch 1: station B far in the future — drives the watermark
    b1 = pd.DataFrame(
        {
            "station_id": ["B"] * 3,
            "date": pd.to_datetime(
                ["2015-06-07", "2015-06-08", "2015-06-09"]
            ).date,
            "tmin": [271.0, 272.0, 273.0],
            "tmax": [281.0, 282.0, 283.0],
        }
    )
    # batch 2: lagging station A, deadline (06-02 + 2d) << watermark;
    # nothing else ever arrives
    b2 = pd.DataFrame(
        {
            "station_id": ["A"],
            "date": pd.to_datetime(["2015-06-01"]).date,
            "tmin": [280.0],
            "tmax": [290.0],
        }
    )
    for b in (b1, b2):
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)

    from melodist_spark.streaming.stateful import (
        streaming_disaggregate_temperature,
    )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_disaggregate_temperature(stream, flush_after="2 days")
        .writeStream.format("memory")
        .queryName("stateful_evt_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from stateful_evt_late").toPandas()
    a = got[got.station_id == "A"].copy()
    assert len(a) == 24  # the buffered day WAS emitted
    assert a["temp"].notna().all()
