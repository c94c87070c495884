"""I/O sources: SMET round-trip, DWD, KNMI parsing."""

import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

from melodist_spark.sources.dwd import read_dwd
from melodist_spark.sources.knmi import read_knmi
from melodist_spark.sources.smet import read_smet, write_smet, write_smet_partitioned

SMET_SAMPLE = """\
SMET 1.1 ASCII
[HEADER]
station_id = test1
station_name = Test
latitude = 51.0
longitude = 8.86
altitude = 100
nodata = -999
fields = timestamp TA RH VW PSUM
units_multiplier = 1 1 1 1 1
[DATA]
2016-01-01T00:00 273.15 80 2.5 0.00
2016-01-01T01:00 272.95 82 2.1 0.40
2016-01-01T02:00 -999 85 1.9 -999
"""


def test_read_smet(spark, tmp_path):
    p = tmp_path / "test.smet"
    p.write_text(SMET_SAMPLE)
    header, df = read_smet(spark, str(p), mode="h")
    assert header["station_id"] == "test1"
    got = df.orderBy("ts").toPandas()
    assert list(got.columns) == ["station_id", "ts", "temp", "hum", "wind", "precip"]
    assert len(got) == 3
    assert got["temp"].iloc[0] == pytest.approx(273.15)
    assert np.isnan(got["temp"].iloc[2])  # -999 → null
    assert np.isnan(got["precip"].iloc[2])


def test_smet_roundtrip(spark, tmp_path):
    p = tmp_path / "in.smet"
    p.write_text(SMET_SAMPLE)
    header, df = read_smet(spark, str(p), mode="h")
    out = tmp_path / "out.smet"
    write_smet(df, str(out), dict(header), mode="h")
    header2, df2 = read_smet(spark, str(out), mode="h")
    a = df.orderBy("ts").toPandas()
    b = df2.orderBy("ts").toPandas()
    for c in ("temp", "hum", "wind", "precip"):
        np.testing.assert_allclose(a[c].values, b[c].values, atol=0.01, equal_nan=True)


# Bytes the writer produced before it became a single collect: rows
# out of ts order (a null ts sorts first and, as in ``concat_ws``, loses
# its timestamp), an all-null column dropped, nulls as -999.00, and
# Java's half-up %.2f where Python's would differ (0.125 → 0.13,
# -0.125 → -0.13, 2.675 → 2.68, 1.005 → 1.01, 1.115 → 1.12).
GOLDEN_H = """\
SMET 1.1 ASCII
[HEADER]
station_id = g1
latitude = 51.0
fields = timestamp TA RH PSUM
units_multiplier = 1 1 1 1 
[DATA]
1.01 1.00 3.00
2016-01-01T00:00 273.15 80.00 0.00
2016-01-01T01:00 -999.00 82.25 0.40
2016-01-01T02:00 -0.13 85.50 -999.00
2016-01-01T03:00 0.13 -999.00 2.68
"""
GOLDEN_D = """\
SMET 1.1 ASCII
[HEADER]
station_id = g2
fields = timestamp TA PSUM
units_multiplier = 1 1 1 
[DATA]
2016-01-01T00:00 274.00 0.13
2016-01-02T00:00 -999.00 1.12
2016-01-03T00:00 272.80 2.68
"""
GOLDEN_D_KEEP = """\
SMET 1.1 ASCII
[HEADER]
station_id = g2
fields = timestamp TA PSUM ISWR
units_multiplier = 1 1 1 1 
[DATA]
2016-01-01T00:00 274.00 0.13 -999.00
2016-01-02T00:00 -999.00 1.12 -999.00
2016-01-03T00:00 272.80 2.68 -999.00
"""


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store (ids count
    up; the store's size is capped, so its count alone would stall)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return store.executionsList(n - 1, 1).head().executionId()


def test_write_smet_golden_bytes(spark, tmp_path):
    import datetime as dt

    def t(day, hour):
        return dt.datetime(2016, 1, day, hour)

    hourly = spark.createDataFrame(
        [
            (t(1, 3), 0.125, None, None, 2.675),
            (t(1, 0), 273.15, 80.0, None, 0.0),
            (t(1, 2), -0.125, 85.5, None, None),
            (None, 1.005, 1.0, None, 3.0),
            (t(1, 1), None, 82.25, None, 0.4),
        ],
        "ts timestamp, temp double, hum double, wind double, precip double",
    )
    daily = spark.createDataFrame(
        [(t(3, 0), 272.8, 2.675, None), (t(1, 0), 274.0, 0.125, None),
         (t(2, 0), None, 1.115, None)],
        "ts timestamp, tmean double, precip double, glob double",
    )

    out = tmp_path / "h.smet"
    before = _last_execution_id(spark)
    write_smet(hourly, str(out), {"station_id": "g1", "latitude": 51.0}, mode="h")
    # one pass over the plan: no count job, no sort
    assert _last_execution_id(spark) - before == 1
    assert out.read_bytes() == GOLDEN_H.encode()

    write_smet(daily, str(tmp_path / "d.smet"), {"station_id": "g2"}, mode="d")
    assert (tmp_path / "d.smet").read_bytes() == GOLDEN_D.encode()
    write_smet(
        daily, str(tmp_path / "dk.smet"), {"station_id": "g2"}, mode="d",
        check_nan=False,
    )
    assert (tmp_path / "dk.smet").read_bytes() == GOLDEN_D_KEEP.encode()


def test_write_smet_partitioned_fleet(spark, tmp_path):
    """Fleet sink: 100 stations → 100 valid SMET files, one job."""
    n_stations, n_hours = 100, 48
    fleet = (
        spark.range(n_stations)
        .selectExpr("concat('st', lpad(cast(id as string), 3, '0')) as station_id")
        .crossJoin(spark.range(n_hours).selectExpr("id as h"))
        .selectExpr(
            "station_id",
            "timestamp'2016-01-01 00:00:00' + make_interval(0,0,0,0,cast(h as int),0,0) as ts",
            "cast(273.15 + pmod(h, 24) * 0.5 as double) as temp",
            "cast(case when pmod(h, 7) = 0 then null else 50.0 + pmod(h, 40) end as double) as hum",
            "cast(null as double) as wind",  # all-null → dropped by check_nan
        )
        .drop("h")
    )
    out = tmp_path / "fleet"
    written = write_smet_partitioned(
        fleet,
        str(out),
        metadata_by_station={"st000": {"station_name": "Zero", "latitude": 51.0}},
        mode="h",
    )
    assert len(written) == n_stations
    assert sorted(written) == sorted(
        str(out / f"st{i:03d}.smet") for i in range(n_stations)
    )

    # spot-check two stations round-trip through the single-file reader
    for sid in ("st000", "st099"):
        header, back = read_smet(spark, str(out / f"{sid}.smet"), mode="h")
        assert header["station_id"] == sid
        # all-null wind column dropped fleet-wide
        assert header["fields"].split() == ["timestamp", "TA", "RH"]
        got = back.orderBy("ts").toPandas()
        assert len(got) == n_hours
        exp = fleet.filter(F.col("station_id") == sid).orderBy("ts").toPandas()
        np.testing.assert_allclose(
            got["temp"].values, exp["temp"].values, atol=0.01
        )
        np.testing.assert_allclose(
            got["hum"].values, exp["hum"].values, atol=0.01, equal_nan=True
        )
    header, _ = read_smet(spark, str(out / "st000.smet"), mode="h")
    assert header["station_name"] == "Zero"

    # fleet reader: one distributed scan over the whole directory
    # agrees row-for-row with the per-file reader
    from melodist_spark.sources.smet import read_smet_fleet

    fl = read_smet_fleet(spark, str(out), mode="h")
    assert set(fl.columns) == {"station_id", "ts", "temp", "hum"}
    got = fl.toPandas()
    assert len(got) == n_stations * n_hours
    assert got["station_id"].nunique() == n_stations
    one = (
        fl.filter(F.col("station_id") == "st042")
        .orderBy("ts")
        .toPandas()
    )
    _, single = read_smet(spark, str(out / "st042.smet"), mode="h")
    exp = single.orderBy("ts").toPandas()
    np.testing.assert_allclose(one["temp"].values, exp["temp"].values)
    np.testing.assert_allclose(
        one["hum"].values, exp["hum"].values, equal_nan=True
    )


DWD_META = textwrap.dedent("""\
    Stations_id;Stationsname;Geogr.Breite;Geogr.Laenge;Hoehe
    1234;Teststadt;51.00;8.86;100
""")

DWD_DAILY = textwrap.dedent("""\
    STATIONS_ID; MESS_DATUM;LUFTTEMPERATUR;LUFTTEMPERATUR_MINIMUM;LUFTTEMPERATUR_MAXIMUM;NIEDERSCHLAGSHOEHE;REL_FEUCHTE
    1234;2016-01-01;1.5;-2.0;4.0;0.3;85
    1234;2016-01-02;2.0;-1.0;5.5;-999;80
    junkline
""")


def test_read_dwd_daily(spark, tmp_path):
    (tmp_path / "meta.csv").write_text(DWD_META)
    (tmp_path / "data.csv").write_text(DWD_DAILY)
    header, df = read_dwd(
        spark, str(tmp_path / "data.csv"), str(tmp_path / "meta.csv"), mode="d"
    )
    assert str(header["Stations_id"]) == "1234"
    assert header["Breite"] == pytest.approx(51.0)
    got = df.orderBy("ts").toPandas()
    assert len(got) == 2  # junk line dropped
    assert got["tmean"].iloc[0] == pytest.approx(1.5 + 273.15)
    assert got["tmin"].iloc[0] == pytest.approx(-2.0 + 273.15)
    assert np.isnan(got["precip"].iloc[1])  # -999 → null


KNMI_SAMPLE = (
    "\n" * 31
    + "STN,YYYYMMDD,HH,T,RH,Q,U,FH,SQ\n"
    + "260,20160101,1,52,-1,0,90,30,0\n"
    + "260,20160101,2,48,5,10,92,28,3\n"
    + "260,20160101,24,60,0,0,88,35,0\n"
)


def test_read_knmi(spark, tmp_path):
    p = tmp_path / "knmi.txt"
    p.write_text(KNMI_SAMPLE)
    got = read_knmi(spark, str(p)).orderBy("ts").toPandas()
    assert len(got) == 3
    assert got["temp"].iloc[0] == pytest.approx(5.2 + 273.15)
    assert got["precip"].iloc[0] == 0.0  # negative clamped
    assert got["precip"].iloc[1] == pytest.approx(0.5)
    assert got["glob"].iloc[1] == pytest.approx(10 * 10000 / 3600.0)
    # HH=1 → 01:00, HH=24 → next day 00:00
    assert got["ts"].iloc[0].hour == 1
    assert got["ts"].iloc[2].day == 2 and got["ts"].iloc[2].hour == 0


def test_smet_daily_mode_roundtrip(spark, tmp_path):
    """Daily-mode SMET: TA→tmean rename and T00:00 timestamps
    (`data_io.py:48-56`, `data_io.py:275-277`)."""
    import pandas as pd

    pdf = pd.DataFrame(
        dict(
            ts=pd.date_range("2016-01-01", periods=5, freq="D"),
            tmean=[274.0, 275.5, 273.2, 272.8, 276.0],
            precip=[0.0, 4.2, 1.1, 0.0, 2.5],
        )
    )
    df = spark.createDataFrame(pdf)
    out = tmp_path / "daily.smet"
    write_smet(df, str(out), {"station_id": "d1"}, mode="d")
    header, back = read_smet(spark, str(out), mode="d")
    got = back.orderBy("ts").toPandas()
    assert list(got.columns) == ["station_id", "ts", "tmean", "precip"]
    np.testing.assert_allclose(got["tmean"].values, pdf["tmean"].values, atol=0.01)
    assert (pd.to_datetime(got["ts"]).dt.hour == 0).all()
