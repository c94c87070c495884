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


def test_bucketed_warehouse_elides_station_exchanges(spark, tmp_path):
    """Observation tables written via write_bucketed start station-
    keyed stages WITHOUT an Exchange: per-station windows and
    aggregations read the bucketing off the scan, and two tables
    bucketed the same way join without shuffling either side."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from melodist_spark.sources.warehouse import read_bucketed, write_bucketed

    ts = pd.date_range("2015-01-01", periods=24 * 20, freq="h")
    rows = []
    for sid in range(6):
        for t, v in zip(ts, np.arange(len(ts), dtype=float)):
            rows.append((sid, t, v + sid))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["station_id", "ts", "temp"])
    )
    write_bucketed(
        df, "obs_bucketed", buckets=4, path=str(tmp_path / "obs")
    )
    try:
        obs = read_bucketed(spark, "obs_bucketed")

        # per-station window: no Exchange in the plan
        w = Window.partitionBy("station_id").orderBy("ts")
        windowed = obs.withColumn("prev", F.lag("temp").over(w))
        plan = windowed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

        # station-keyed aggregation: partial+final collapse, no Exchange
        agg = obs.groupBy("station_id").agg(F.avg("temp"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

        # co-located join of two identically-bucketed tables on the
        # bucket key (the station-parameter join pattern)
        write_bucketed(
            df.groupBy("station_id").agg(F.avg("temp").alias("t_mean")),
            "obs_bucketed_b",
            buckets=4,
            sort=("station_id",),
            path=str(tmp_path / "obs_b"),
        )
        # force the sort-merge path (at test size Spark would rather
        # broadcast): both sides must come in pre-partitioned
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = obs.join(
                read_bucketed(spark, "obs_bucketed_b"), ["station_id"]
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)

        # and the data survives the round trip
        assert obs.count() == df.count()
        got = windowed.filter(
            (F.col("station_id") == 3) & F.col("prev").isNotNull()
        ).count()
        assert got == len(ts) - 1
    finally:
        spark.sql("DROP TABLE IF EXISTS obs_bucketed")
        spark.sql("DROP TABLE IF EXISTS obs_bucketed_b")


def _warc_bytes(records):
    """Assemble a spec-shaped WARC blob from (headers, payload)."""
    out = bytearray()
    for headers, payload in records:
        out += b"WARC/1.0\r\n"
        headers = dict(headers)
        headers["Content-Length"] = str(len(payload))
        for k, v in headers.items():
            out += f"{k}: {v}\r\n".encode()
        out += b"\r\n" + payload + b"\r\n\r\n"
    return bytes(out)


def test_read_warc_records_and_http_split(spark, tmp_path):
    """WARC ingestion (Common Crawl shape): warcinfo + response +
    request records parse with header fields intact, the HTTP layer
    of application/http responses splits into status/content-type/
    body, gzip archives decode, and a corrupt archive yields an
    __error__ row instead of failing the job."""
    import gzip

    import numpy as np

    from melodist_spark.sources.warc import (
        parse_warc_records,
        read_warc,
        split_http_payload,
    )

    html = b"<html><body>hello crawl</body></html>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
        b"Server: test\r\n\r\n" + html
    )
    records = [
        (
            {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:1>",
             "Content-Type": "application/warc-fields"},
            b"software: test\r\n",
        ),
        (
            {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:2>",
             "WARC-Target-URI": "http://example.com/",
             "WARC-Date": "2024-01-01T00:00:00Z",
             "Content-Type": "application/http; msgtype=response"},
            http,
        ),
        (
            {"WARC-Type": "request", "WARC-Record-ID": "<urn:uuid:3>",
             "WARC-Target-URI": "http://example.com/",
             "Content-Type": "application/http; msgtype=request"},
            b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n",
        ),
    ]
    blob = _warc_bytes(records)

    # pure-function layer
    parsed = list(parse_warc_records(blob))
    assert [r["warc_type"] for r in parsed] == ["warcinfo", "response", "request"]
    assert parsed[1]["target_uri"] == "http://example.com/"
    status, ctype, body = split_http_payload(parsed[1]["payload"])
    assert status == 200 and ctype.startswith("text/html") and body == html

    # distributed layer: plain + gzip + corrupt in one directory
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc").write_bytes(blob)
    (d / "b.warc.gz").write_bytes(gzip.compress(blob))
    (d / "c.warc").write_bytes(b"WARC/1.0\r\nContent-Length: 999999\r\n\r\nshort")
    got = read_warc(spark, str(d) + "/*").toPandas()

    ok = got[got.warc_type != "__error__"]
    assert len(ok) == 6  # 3 records x 2 good archives
    resp = ok[ok.warc_type == "response"]
    assert len(resp) == 2
    for _, r in resp.iterrows():
        assert r["http_status"] == 200
        assert bytes(r["http_body"]) == html
        assert r["target_uri"] == "http://example.com/"
    errs = got[got.warc_type == "__error__"]
    assert len(errs) == 1 and "exceeds" in errs.iloc[0]["target_uri"]

    # oversized payloads drop loudly, not OOM
    got2 = read_warc(spark, str(d / "a.warc"), max_payload=10).toPandas()
    assert (got2.warc_type == "__oversized__").sum() >= 2
    assert got2[got2.warc_type == "__oversized__"]["payload"].isna().all()


def test_warc_to_corpus_composition(spark, tmp_path):
    """End-to-end crawl ingestion: WARC archives -> HTML responses ->
    clean_text -> quality gate -> incremental exact+near dedup — the
    full Common Crawl-shaped path through existing operators, no
    glue code beyond column expressions."""
    import gzip

    from pyspark.sql import functions as F

    from melodist_spark.pipeline.dedup import (
        dedup_against,
        digest_index,
        minhash_index,
        neardup_against,
    )
    from melodist_spark.pipeline.text import clean_text, quality_flags
    from melodist_spark.sources.warc import read_warc

    body = (
        "<html><head><title>t</title></head><body><p>"
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while morning fog rolls across the quiet meadow grass and "
        "birds are singing softly in the first light of the day today"
        "</p></body></html>"
    )

    def page(uri, text):
        http = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + text
        ).encode()
        hdr = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        return hdr + http + b"\r\n\r\n"

    arc = page("http://a.com/", body)
    arc += page("http://b.com/", body)  # exact dup page
    arc += page("http://c.com/", body.replace("morning", "evening"))  # near
    arc += page("http://d.com/", "<html><body>too short</body></html>")
    (tmp_path / "crawl.warc.gz").write_bytes(gzip.compress(arc))

    docs = (
        read_warc(spark, str(tmp_path / "crawl.warc.gz"))
        .filter(F.col("warc_type") == "response")
        .filter(F.col("http_status") == 200)
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("target_uri"),
            clean_text(F.col("http_body").cast("string")).alias("text"),
        )
    )
    assert docs.count() == 4
    # quality gate drops the too-short page
    gated = quality_flags(docs, min_tokens=10).filter("ok_length")
    uris = {r["target_uri"] for r in gated.collect()}
    assert "http://d.com/" not in uris and len(uris) == 3

    # incremental dedup vs an EMPTY prior index: exact dup collapses,
    # then the near-dup estimator drops the one-word variant
    empty_idx = digest_index(gated.limit(0))
    batch = dedup_against(gated, empty_idx)
    from melodist_spark.pipeline.dedup import dedup_exact

    batch = dedup_exact(batch)
    assert batch.count() == 2  # a/b collapsed, c + survivors remain
    first = batch.orderBy("doc_id").limit(1)
    survivors = neardup_against(
        batch.join(first.select("doc_id"), "doc_id", "left_anti"),
        minhash_index(first),
        threshold=0.5,
    )
    assert survivors.count() == 0  # the near-dup page is caught too


def test_read_wet_and_wat_sidecars(spark, tmp_path):
    """WET (extracted text) and WAT (metadata JSON) sidecar readers:
    conversion records decode to UTF-8 text rows (invalid bytes
    replaced, never a task failure), metadata records surface their
    JSON envelope as a string, and each reader drops the other
    record types (warcinfo headers, non-JSON metadata)."""
    import gzip

    from pyspark.sql import functions as F

    from melodist_spark.sources.warc import read_wat, read_wet

    wet = _warc_bytes(
        [
            (
                {"WARC-Type": "warcinfo",
                 "Content-Type": "application/warc-fields"},
                b"software: test-wet\r\n",
            ),
            (
                {"WARC-Type": "conversion",
                 "WARC-Target-URI": "http://example.com/a",
                 "WARC-Date": "2024-01-01T00:00:00Z",
                 "Content-Type": "text/plain"},
                "the morning text of page aé".encode(),
            ),
            (
                {"WARC-Type": "conversion",
                 "WARC-Target-URI": "http://example.com/b",
                 "Content-Type": "text/plain"},
                b"page b with a broken byte \xff here",
            ),
        ]
    )
    (tmp_path / "x.wet.gz").write_bytes(gzip.compress(wet))
    got = read_wet(spark, str(tmp_path / "x.wet.gz")).orderBy("url").toPandas()
    assert list(got["url"]) == ["http://example.com/a", "http://example.com/b"]
    assert got.iloc[0]["text"] == "the morning text of page aé"
    assert got.iloc[0]["date"] == "2024-01-01T00:00:00Z"
    # bad UTF-8 replaced, not fatal; declared length is the raw bytes
    assert "page b with a broken byte" in got.iloc[1]["text"]
    assert got.iloc[1]["n_chars"] == len(b"page b with a broken byte \xff here")

    wat = _warc_bytes(
        [
            (
                {"WARC-Type": "warcinfo",
                 "Content-Type": "application/warc-fields"},
                b"software: test-wat\r\n",
            ),
            (
                {"WARC-Type": "metadata",
                 "WARC-Target-URI": "http://example.com/a",
                 "Content-Type": "application/json"},
                b'{"Envelope": {"WARC-Header-Length": "257"}}',
            ),
            (
                {"WARC-Type": "metadata",
                 "WARC-Target-URI": "http://example.com/z",
                 "Content-Type": "text/plain"},
                b"not json, must be dropped",
            ),
        ]
    )
    (tmp_path / "y.wat").write_bytes(wat)
    wgot = read_wat(spark, str(tmp_path / "y.wat"))
    rows = wgot.collect()
    assert len(rows) == 1 and rows[0]["url"] == "http://example.com/a"
    # the JSON envelope is queryable downstream with the built-ins
    hdr_len = wgot.select(
        F.get_json_object("meta_json", "$.Envelope.WARC-Header-Length")
    ).first()[0]
    assert hdr_len == "257"


def test_read_cdx_index(spark, tmp_path):
    """CDXJ crawl-index lines parse to typed capture rows; a malformed
    JSON tail yields null fields (never a task failure) with the raw
    urlkey kept for quarantine."""
    import gzip

    from melodist_spark.sources.warc import read_cdx

    lines = (
        'com,example)/a 20240115123045 {"url": "https://example.com/a", '
        '"mime": "text/html", "mime-detected": "text/html", "status": "200", '
        '"digest": "AAAB", "length": "1234", "offset": "5678", '
        '"filename": "crawl-data/CC-MAIN-2024/seg/warc/x.warc.gz"}\n'
        'com,example)/b 20240115123046 {"url": "https://example.com/b", '
        '"mime": "application/pdf", "status": "404", "length": "9", '
        '"offset": "0", "filename": "y.warc.gz"}\n'
        "com,example)/broken 20240115123047 {not json at all\n"
    )
    p = tmp_path / "cdx-00000.gz"
    p.write_bytes(gzip.compress(lines.encode()))

    out = {r["urlkey"]: r for r in read_cdx(spark, str(p)).collect()}
    assert len(out) == 3
    a = out["com,example)/a"]
    assert (a["url"], a["mime"], a["status"], a["length"], a["offset"]) == (
        "https://example.com/a", "text/html", 200, 1234, 5678,
    )
    assert a["warc_filename"].endswith("x.warc.gz")
    assert str(a["ts"]).startswith("2024-01-15 12:30:45")
    b = out["com,example)/b"]
    assert (b["mime"], b["status"]) == ("application/pdf", 404)  # mime fallback
    broken = out["com,example)/broken"]
    assert broken["url"] is None and broken["status"] is None
    assert str(broken["ts"]).startswith("2024-01-15 12:30:47")


def test_read_warc_ranges_index_first_fetch(spark, tmp_path):
    """The CDX -> byte-range contract end to end: build a CC-style
    archive (one gzip member per record), index it with (offset,
    length) while writing, fetch a SUBSET of ranges and get exactly
    those records back; a bogus range yields one __error__ row."""
    import gzip

    from melodist_spark.sources.warc import read_warc_ranges

    def record(uri, body):
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        )
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:" + uri.encode() + b">\r\n"
            b"WARC-Target-URI: https://" + uri.encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        )
        return head + payload + b"\r\n\r\n"

    members, index = [], []
    pos = 0
    for i in range(5):
        m = gzip.compress(record(f"ex.com/p{i}", b"body-%d" % i))
        index.append((pos, len(m)))
        members.append(m)
        pos += len(m)
    arc = tmp_path / "x.warc.gz"
    arc.write_bytes(b"".join(members))

    # fetch records 1 and 3 only, plus one bogus range
    ranges = spark.createDataFrame(
        [
            (str(arc), index[1][0], index[1][1]),
            (str(arc), index[3][0], index[3][1]),
            (str(arc), pos + 100, 50),
            (str(arc), None, 10),    # quarantine row: dropped, not a crash
            (None, 0, 10),
        ],
        "warc_filename string, offset long, length long",
    )
    out = read_warc_ranges(spark, ranges).collect()
    good = sorted(
        r["target_uri"] for r in out if r["warc_type"] == "response"
    )
    assert good == ["https://ex.com/p1", "https://ex.com/p3"]
    bodies = sorted(
        bytes(r["http_body"]) for r in out if r["warc_type"] == "response"
    )
    assert bodies == [b"body-1", b"body-3"]
    errs = [r for r in out if r["warc_type"] == "__error__"]
    assert len(errs) == 1 and "EOF" in errs[0]["target_uri"]
    assert len(out) == 3


def test_cdx_to_ranges_composition(spark, tmp_path):
    """The full index-first story in one test: an archive of pages
    from two domains, a CDX index built AT WRITE TIME (urlkey via the
    surt() expression), a relational filter (one domain's prefix +
    status 200), and a range fetch returning exactly the matching
    records — the archive bytes for the other domain are never
    parsed."""
    import gzip
    import json

    from pyspark.sql import functions as F

    from melodist_spark.pipeline.urls import surt
    from melodist_spark.sources.warc import read_cdx, read_warc_ranges

    def record(url, body, status=200):
        payload = (
            f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n".encode()
            + body
        )
        head = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        )
        return head + payload + b"\r\n\r\n"

    pages = [
        ("https://keep.example/a", b"keep-a", 200),
        ("https://drop.example/x", b"drop-x", 200),
        ("https://keep.example/b", b"keep-b", 404),
        ("https://keep.example/c", b"keep-c", 200),
    ]
    arc = tmp_path / "crawl.warc.gz"
    index_lines, pos, members = [], 0, []
    for url, body, status in pages:
        m = gzip.compress(record(url, body, status))
        members.append(m)
        index_lines.append((url, status, pos, len(m)))
        pos += len(m)
    arc.write_bytes(b"".join(members))

    # build the CDXJ shard with surt() producing the urlkey column
    idx_df = spark.createDataFrame(
        [(u, s, o, l) for u, s, o, l in index_lines],
        "url string, status int, off long, len long",
    ).select(
        F.concat_ws(
            " ",
            surt(F.col("url")),
            F.lit("20240101000000"),
            F.to_json(
                F.struct(
                    F.col("url"),
                    F.col("status").cast("string").alias("status"),
                    F.col("len").cast("string").alias("length"),
                    F.col("off").cast("string").alias("offset"),
                    F.lit(str(arc)).alias("filename"),
                )
            ),
        ).alias("line")
    )
    shard = tmp_path / "cdx-00000.gz"
    shard.write_bytes(
        gzip.compress(
            ("\n".join(r["line"] for r in idx_df.collect()) + "\n").encode()
        )
    )

    cdx = read_cdx(spark, str(shard))
    picked = cdx.filter(
        F.col("urlkey").startswith("example,keep)") & (F.col("status") == 200)
    ).select("warc_filename", "offset", "length")
    fetched = read_warc_ranges(spark, picked)
    out = fetched.collect()
    assert sorted(r["target_uri"] for r in out) == [
        "https://keep.example/a",
        "https://keep.example/c",
    ]
    assert all(r["http_status"] == 200 for r in out)
    assert sorted(bytes(r["http_body"]) for r in out) == [b"keep-a", b"keep-c"]

    # ...and on to training data: html-strip + encoding-repair the
    # fetched bodies, chunk with provenance — the complete
    # index->fetch->curate->chunk story in one lineage
    from melodist_spark.pipeline.text import (
        chunk_chars,
        clean_text,
        fix_text,
    )

    docs = fetched.select(
        F.xxhash64("target_uri").alias("doc_id"),
        clean_text(
            fix_text(F.make_valid_utf8(F.col("http_body").cast("string")))
        ).alias("text"),
    )
    chunks = chunk_chars(docs, size=4, overlap=1).collect()
    got_chunks = {(r["doc_id"], r["chunk_idx"], r["char_start"], r["chunk"])
                  for r in chunks}
    # 'keep-a' -> chunks of size 4 stride 3: 'keep', 'p-a'
    assert {c[3] for c in got_chunks} == {"keep", "p-a", "p-c"}


def test_read_cdx_fuzz_never_fails(spark, tmp_path):
    """Arbitrary junk lines in a CDX shard yield rows with null
    fields, never task failures — the quarantine contract."""
    import gzip

    lines = (
        "\n"
        "just-one-token\n"
        "two tokens\n"
        "key 20240101000000 \n"
        "key notadate {\"url\": \"x\"}\n"
        "key 20240101000000 [1,2,3]\n"
        "key 20240101000000 {\"length\": \"not-a-number\"}\n"
        "\x00\x01binary garbage here\n"
        "ok,key)/p 20240101000000 {\"url\": \"https://k/p\", \"status\": \"200\"}\n"
    )
    p = tmp_path / "junk-cdx.gz"
    p.write_bytes(gzip.compress(lines.encode()))
    from melodist_spark.sources.warc import read_cdx

    rows = read_cdx(spark, str(p)).collect()
    assert len(rows) == 9  # every line (even the empty one) is a row
    good = [r for r in rows if r["url"] == "https://k/p"]
    assert len(good) == 1 and good[0]["status"] == 200
    # the not-a-number length degrades to null, not an error
    bad_len = [r for r in rows if r["urlkey"] == "key" and r["length"] is None]
    assert bad_len


def test_parse_warc_stream_gzip_bomb_guard():
    """ADVICE r7: a record with a huge Content-Length must be skipped
    by bounded-chunk reads BEFORE allocation — the cap applies to the
    declared length, and the stream stays aligned for the records
    after the oversized one."""
    import io

    from melodist_spark.sources.warc import parse_warc_stream

    def rec(uri, payload):
        return (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:" + uri + b">\r\n"
            b"WARC-Target-URI: http://" + uri + b"/\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    big = b"A" * (3 << 20)  # 3 MiB body, cap at 1 MiB
    blob = rec(b"ok1", b"hello") + rec(b"huge", big) + rec(b"ok2", b"world")
    got = list(parse_warc_stream(io.BytesIO(blob), max_payload=1 << 20))
    assert [r["payload"] for r in got] == [b"hello", None, b"world"]
    assert got[1]["content_length"] == len(big)
    # uncapped still materializes (back-compat)
    got2 = list(parse_warc_stream(io.BytesIO(blob)))
    assert got2[1]["payload"] == big
