"""The benchmark's own checks, at a tiny size.

    python3 -m pytest melobench -q

Run from the repository root. Every workload runs one traced pass on a
few stations; its outputs must pass their checks, and
it must report every metric ``BENCHMARK.json`` names, with its unit.
The fleet path and the one-station path must give identical hourly
series for the same station and stats bundle.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

run.import_library()

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from spans import Tracer  # noqa: E402

from melodist_spark.api import Stations  # noqa: E402
from melodist_spark.sources.smet import read_smet, write_smet_partitioned  # noqa: E402
from melodist_spark.statistics import StationStatistics  # noqa: E402

SEED = 3
# five stations, so one sits above the Arctic Circle; a winter quarter,
# so it has polar night
TINY = {
    "fleet_chain": {"n_stations": 5, "n_days": 90},
    "disagg_long": {"n_stations": 5, "n_days": 90},
    "station_requests": {"n_stations": 5, "n_days": 90},
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def work():
    path = os.path.join(run.WORK_ROOT, f"test-{os.getpid()}")
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    s = run.spark_session(work)
    yield s
    run.stop(s)


def _units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_reports_every_metric(spark, work, name):
    tracer = Tracer(spark, f"test-{name}", counters=True)
    wl = workloads.WORKLOADS[name][0](spark, tracer, SEED, os.path.join(work, name), TINY[name])
    os.makedirs(wl.work)
    wl.setup()
    tracer.enabled = True
    passes = run.timed_passes(wl, wl.work, 0.0)
    tracer.enabled = False
    tracer.close()

    ops = [o for p in passes for o in p["ops"]]
    assert [o["error"] for o in ops if o["error"]] == []
    e2e = run.end_to_end(1.0, passes, wl.request_latencies(passes), 1.0)
    assert _units(e2e) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    per_layer, _ = layers.per_layer(tracer, passes)
    assert _units(per_layer) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}

    opened = {s["name"] for s in tracer.spans}
    if name == "station_requests":
        # a request's disaggregation runs inside write_smet's span
        assert set(layers.SOURCES) <= opened
        assert not opened & set(layers.STATISTICS)
        return
    kernels = [k for k in layers.PYTHON_KERNELS if k in opened]
    assert "operators.cascade" in kernels
    for k in kernels:  # read from the SQL status store
        assert per_layer[f"{k}.python_bytes"]["value"] > 0, k
    if name == "disagg_long":
        assert not opened & set(layers.STATISTICS)
    if name == "fleet_chain":
        assert set(layers.STATISTICS) <= opened


def test_fleet_and_one_station_paths_agree(spark, work):
    """The same station, through a fleet ``Stations`` and through the
    one-station SMET request path, gives identical hourly series."""
    n, days, sid = 5, 60, gen.station_id(4)
    path = os.path.join(work, "paths")
    daily = gen.daily_obs(spark, SEED, n, days)
    meta = gen.stations(spark, SEED, n)
    os.makedirs(path)
    gen.write_bundle(os.path.join(path, "stats.json"), SEED, n)
    stats = StationStatistics.from_json(spark, os.path.join(path, "stats.json"))
    fleet = Stations(meta, daily)
    fleet.statistics = stats

    header = {r["station_id"]: {"latitude": r["lat"], "longitude": r["lon"], "tz": r["timezone"]}
              for r in meta.collect()}
    write_smet_partitioned(
        daily.withColumn("ts", F.col("date").cast("timestamp")).drop("date"),
        path, header, mode="d",
    )
    header, one_daily = read_smet(spark, os.path.join(path, f"{sid}.smet"), mode="d")
    one = workloads.one_station(spark, sid, header, one_daily, stats)

    def series(df, var):
        # NaN != NaN, so compare NaN as a marker
        return [(r["ts"], "NaN" if isinstance(r[var], float) and math.isnan(r[var]) else r[var])
                for r in df.select("ts", var).orderBy("ts").collect()]

    for var in workloads.VARIABLES:
        a = series(workloads.disaggregate(fleet, var).filter(F.col("station_id") == sid), var)
        b = series(workloads.disaggregate(one, var), var)
        assert len(a) == days * 24, var
        assert a == b, var
