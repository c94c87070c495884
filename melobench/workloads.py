"""The three benchmark workloads and the checks on their outputs.

Each workload object has ``setup()`` (inputs and stats bundle),
``warm_up(out_dir)`` (untimed operations, also part of set-up) and
``run_pass(out_dir)``, which returns the pass's operations: one per
variable written (fleet workloads) or one per request. An operation is
``{"name", "seconds", "rows", "nonnull", "error"}``; ``error`` is None
when it raised nothing and its output check passed.
"""

from __future__ import annotations

import math
import os
import time
import traceback

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import gen
from melodist_spark.api import Stations
from melodist_spark.operators.aggregations import daily_from_hourly
from melodist_spark.sources.smet import read_smet, write_smet, write_smet_partitioned
from melodist_spark.statistics import StationStatistics

VARIABLES = ("temp", "hum", "wind", "glob", "precip")
SPAN = {
    "temp": "operators.temperature",
    "hum": "operators.humidity",
    "wind": "operators.wind",
    "glob": "operators.radiation",
    "precip": "operators.cascade",
}
CASCADE_SEED = 7
# cascade output must sum back to the daily input; SMET stores two
# decimals, so a day of 24 re-read values may be off by 24 half-cents
SUM_TOL = {"parquet": 1e-6, "smet": 24 * 0.005 + 1e-9}

# calibration families in the order ``Stations.calibrate`` runs them,
# with the parameter frames each one sets
CALIBRATION = (
    ("wind", lambda s, st: s.calc_wind_stats(), ("wind",)),
    ("humidity", lambda s, st: s.calc_humidity_stats(),
     ("hum", "hum_month_hour_precip_mean")),
    ("temperature", lambda s, st: s.calc_temperature_stats(),
     ("temp_max_delta", "temp_mean_course")),
    ("precipitation", lambda s, st: s.calc_precipitation_stats(), ("precip_stats",)),
    ("radiation", lambda s, st: s.calc_radiation_stats(data_daily=st.data_daily),
     ("glob_mean_course", "glob_angstroem", "glob_bristcamp")),
)


def disaggregate(st: Stations, var: str) -> DataFrame:
    """The method the benchmark runs for each variable."""
    if var == "temp":
        return st.disaggregate_temperature("sine_min_max", min_max_time="sun_loc")
    if var == "hum":  # fused with the temperature spec set just before
        return st.disaggregate_humidity("dewpoint_regression")
    if var == "wind":
        return st.disaggregate_wind("cosine")
    if var == "glob":
        return st.disaggregate_radiation("pot_rad_via_bc")
    return st.disaggregate_precipitation("cascade", seed=CASCADE_SEED)


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


# -- reference for the output checks ------------------------------------


def null_allowance(spark, seed: int, n_stations: int, n_days: int) -> DataFrame:
    """(station_id, date, missing, near_missing, polar_night) over every
    calendar day.

    Where a null hourly value is documented behaviour:
    - ``missing``: the day is absent from the input (all variables);
    - ``near_missing``: a neighbour day is absent, or lies beyond the
      series — the sine temperature course (and the humidity fused with
      it) spans the neighbouring days' extremes;
    - ``polar_night``: no sunrise, so radiation's clear-sky
      normalisation is 0/0 (null). Flagged from the declination alone,
      with margin for the library's own sun-time formula.
    """
    days = gen.calendar(spark, seed, n_stations, n_days)
    w = Window.partitionBy("station_id").orderBy("date")
    # a neighbour beyond the series counts as absent
    near = F.coalesce(F.lag("gone").over(w), F.lit(True)) | F.coalesce(
        F.lead("gone").over(w), F.lit(True)
    )
    doy = F.dayofyear("date")
    decl = F.radians(F.lit(23.44)) * F.sin(2 * math.pi * (doy - 81) / 365.0)
    no_sun = -F.tan(F.radians("lat")) * F.tan(decl)
    return days.select(
        "station_id", "date",
        F.col("gone").alias("missing"),
        near.alias("near_missing"),
        (no_sun > 0.9).alias("polar_night"),
    )


def _allowed(var: str) -> str:
    if var in ("temp", "hum"):
        return "missing OR near_missing"
    if var == "glob":
        return "missing OR polar_night"
    return "missing"


def check_parquet(spark, path: str, var: str, ref: DataFrame, n_rows: int) -> dict:
    """Check one written hourly output against the daily reference
    ``ref`` (station_id, date, precip_in, missing, near_missing,
    polar_night). Returns rows, nonnull and the error, if any."""
    o = spark.read.parquet(path)
    per_day = o.groupBy("station_id", F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(var).alias("nn"),
        F.sum(var).alias("s"),
        F.min(var).alias("lo"),
        F.max(var).alias("hi"),
    )
    j = per_day.join(ref, ["station_id", "date"], "left")
    bad_sum = (F.col("nn") == 24) & (F.abs(F.col("s") - F.col("precip_in")) > SUM_TOL["parquet"])
    r = j.agg(
        F.sum("n").alias("rows"),
        F.sum("nn").alias("nonnull"),
        F.count(F.when(F.col("n") != 24, 1)).alias("short_days"),
        F.count(F.when((F.col("nn") < F.col("n")) & ~F.expr(_allowed(var)), 1)).alias("bad_nulls"),
        F.count(F.when(F.col("missing").isNull(), 1)).alias("unknown_days"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.count(F.when(bad_sum, 1)).alias("bad_sums"),
    ).collect()[0]
    errors = []
    if r["rows"] != n_rows:
        errors.append(f"{r['rows']} rows, expected {n_rows}")
    if r["short_days"] or r["unknown_days"]:
        errors.append(f"{r['short_days']} days without 24 hours, {r['unknown_days']} outside the calendar")
    if r["bad_nulls"]:
        errors.append(f"nulls on {r['bad_nulls']} days with input")
    errors += _range_errors(var, r["lo"], r["hi"])
    if var == "precip" and r["bad_sums"]:
        errors.append(f"{r['bad_sums']} days whose hourly sum differs from the daily input")
    return {"rows": r["rows"], "nonnull": r["nonnull"], "error": "; ".join(errors) or None}


def _range_errors(var: str, lo, hi) -> list[str]:
    if lo is None:
        return [f"{var} is all null"]
    if var == "hum" and (lo < 0 or hi > 100):
        return [f"humidity outside [0, 100]: {lo}..{hi}"]
    if var in ("glob", "precip") and lo < 0:
        return [f"{var} negative: {lo}"]
    return []


def check_smet(path: str, var: str, ref: dict, n_rows: int) -> dict:
    """Check one hourly SMET file written by a request. ``ref`` maps each
    calendar date to (precip_in, allowed_null[var])."""
    with open(path) as f:
        lines = f.read().splitlines()
    start = lines.index("[DATA]") + 1
    fields = next(ln.split("=", 1)[1].split() for ln in lines[:start] if ln.startswith("fields"))
    col = fields.index({"temp": "TA", "hum": "RH", "wind": "VW", "glob": "ISWR", "precip": "PSUM"}[var])
    days: dict = {}
    for ln in lines[start:]:
        parts = ln.split()
        v = float(parts[col])
        days.setdefault(parts[0][:10], []).append(None if v == -999 else v)
    rows = sum(len(v) for v in days.values())
    vals = [x for v in days.values() for x in v if x is not None]
    errors = [] if rows == n_rows else [f"{rows} rows, expected {n_rows}"]
    bad_nulls = bad_sums = 0
    for day, v in days.items():
        precip_in, allowed = ref.get(day, (None, False))
        if len(v) != 24 or day not in ref:
            errors.append(f"day {day} has {len(v)} hours")
            continue
        if None in v and not allowed:
            bad_nulls += 1
        if var == "precip" and None not in v and abs(sum(v) - precip_in) > SUM_TOL["smet"]:
            bad_sums += 1
    if bad_nulls:
        errors.append(f"nulls on {bad_nulls} days with input")
    if bad_sums:
        errors.append(f"{bad_sums} days whose hourly sum differs from the daily input")
    errors += _range_errors(var, min(vals, default=None), max(vals, default=None))
    return {"rows": rows, "nonnull": len(vals), "error": "; ".join(errors) or None}


def _op(name: str, fn) -> dict:
    """Run one operation; a raise is recorded, not propagated."""
    t0 = time.perf_counter()
    try:
        res = fn()
    except Exception:  # an operation's failure is a result, not a crash
        return {"name": name, "seconds": time.perf_counter() - t0, "check_s": 0.0,
                "rows": 0, "nonnull": 0, "error": traceback.format_exc(limit=3)}
    return {"name": name, **res}


# -- workloads ----------------------------------------------------------


def one_station(spark, sid: str, header: dict, daily: DataFrame, stats) -> Stations:
    """A one-station ``Stations`` from a daily SMET file's header and
    data, with the stored stats bundle."""
    meta = spark.createDataFrame(
        [(sid, float(header["longitude"]), float(header["latitude"]), float(header["tz"]))],
        "station_id string, lon double, lat double, timezone double",
    )
    st = Stations(meta, daily.withColumn("date", F.to_date("ts")).drop("ts"))
    st.statistics = stats
    return st


class Workload:
    def __init__(self, spark, tracer, seed: int, work: str, scale: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.__dict__.update(scale)

    def warm_up(self, out_dir: str) -> list[dict]:
        """Untimed operations run in set-up, checked like the timed ones.
        None by default: a fleet job is a batch submitted once per
        session, so its timed pass is the first of its session."""
        return []

    def request_latencies(self, passes: list[dict]) -> list[float]:
        """A fleet job is one request: its user waits for all five
        outputs, so its latency is the pass time."""
        return [p["wall_s"] for p in passes]

    def _fleet_writes(self, st: Stations, out_dir: str) -> list[dict]:
        """Disaggregate and write the five variables, each one operation
        checked against ``self.ref``."""
        ops = []
        for var in VARIABLES:
            path = os.path.join(out_dir, var)

            def write(var=var, path=path):
                t0 = time.perf_counter()
                with self.tracer.span(SPAN[var]) as sp:
                    with sp.build():
                        out = disaggregate(st, var)
                    out.write.parquet(path)
                seconds = time.perf_counter() - t0
                res = check_parquet(self.spark, path, var, self.ref, self.n_rows)
                return {"seconds": seconds, "check_s": time.perf_counter() - t0 - seconds, **res}

            ops.append(_op(var, write))
        return ops

    def _reference(self, daily: DataFrame) -> DataFrame:
        allow = null_allowance(self.spark, self.seed, self.n_stations, self.n_days)
        precip = daily.select("station_id", "date", F.col("precip").alias("precip_in"))
        return _persist(allow.join(precip, ["station_id", "date"], "left"))


class FleetChain(Workload):
    """Hourly parquet → daily → Stations → calibrate → five disaggregations
    → five parquet writes, ingest inside the timer."""

    def setup(self):
        g = self.spark
        self.hourly_path = os.path.join(self.work, "hourly")
        self.meta_path = os.path.join(self.work, "meta")
        gen.hourly_obs(g, self.seed, self.n_stations, self.n_days).write.parquet(self.hourly_path)
        gen.stations(g, self.seed, self.n_stations).write.parquet(self.meta_path)
        self.n_rows = self.n_stations * self.n_days * 24
        # daily precip sums straight from the generated hourly input
        hourly_sums = (
            g.read.parquet(self.hourly_path)
            .groupBy("station_id", F.to_date("ts").alias("date"))
            .agg(F.sum("precip").alias("precip"))
        )
        self.ref = self._reference(hourly_sums)

    def run_pass(self, out_dir: str) -> list[dict]:
        g, tr = self.spark, self.tracer
        persisted = []
        try:
            hourly = g.read.parquet(self.hourly_path)
            meta = g.read.parquet(self.meta_path)
            with tr.span("operators.aggregations") as sp:
                with sp.build():
                    daily = daily_from_hourly(hourly)
                daily = _persist(daily)
                persisted.append(daily)
            with tr.span("api") as sp:
                with sp.build():
                    st = Stations(meta, daily)
                st.data_daily = _persist(st.data_daily)
                persisted.append(st.data_daily)
            stats = StationStatistics(hourly, meta)
            for family, calc, attrs in CALIBRATION:
                with tr.span(f"statistics.{family}") as sp:
                    with sp.build():
                        calc(stats, st)
                    for a in attrs:
                        setattr(stats, a, _persist(getattr(stats, a)))
                        persisted.append(getattr(stats, a))
            st.statistics = stats
            return self._fleet_writes(st, out_dir)
        finally:
            for df in persisted:
                df.unpersist()


class DisaggLong(Workload):
    """A decade of daily parquet records → Stations with a stored stats
    bundle → five disaggregations → five parquet writes."""

    def setup(self):
        g = self.spark
        self.daily_path = os.path.join(self.work, "daily")
        self.meta_path = os.path.join(self.work, "meta")
        gen.daily_obs(g, self.seed, self.n_stations, self.n_days).write.parquet(self.daily_path)
        gen.stations(g, self.seed, self.n_stations).write.parquet(self.meta_path)
        bundle = os.path.join(self.work, "stats.json")
        gen.write_bundle(bundle, self.seed, self.n_stations)
        self.stats = StationStatistics.from_json(g, bundle)
        self.n_rows = self.n_stations * self.n_days * 24
        self.ref = self._reference(g.read.parquet(self.daily_path))

    def run_pass(self, out_dir: str) -> list[dict]:
        g, tr = self.spark, self.tracer
        daily = g.read.parquet(self.daily_path)
        meta = g.read.parquet(self.meta_path)
        with tr.span("api") as sp:
            with sp.build():
                st = Stations(meta, daily)
                st.statistics = self.stats
            st.data_daily = _persist(st.data_daily)
        try:
            return self._fleet_writes(st, out_dir)
        finally:
            st.data_daily.unpersist()


class StationRequests(Workload):
    """Closed loop, one client: each request reads one station's daily
    SMET file, disaggregates one variable with the stored bundle and
    writes hourly SMET. A pass is one rotation over the five variables;
    requests also rotate over the stations."""

    def setup(self):
        g = self.spark
        self.smet_dir = os.path.join(self.work, "smet")
        daily = gen.daily_obs(g, self.seed, self.n_stations, self.n_days)
        meta = gen.stations(g, self.seed, self.n_stations).collect()
        header = {
            r["station_id"]: {"latitude": r["lat"], "longitude": r["lon"], "tz": r["timezone"]}
            for r in meta
        }
        write_smet_partitioned(
            daily.withColumn("ts", F.col("date").cast("timestamp")).drop("date"),
            self.smet_dir, header, mode="d",
        )
        bundle = os.path.join(self.work, "stats.json")
        gen.write_bundle(bundle, self.seed, self.n_stations)
        self.stats = StationStatistics.from_json(g, bundle)
        self.n_rows = self.n_days * 24
        ref = self._reference(daily)
        self.ref_by_station: dict = {}
        for r in ref.collect():
            day = r["date"].isoformat()
            allowed = {v: bool(r["missing"]) for v in VARIABLES}
            allowed["temp"] = allowed["hum"] = bool(r["missing"] or r["near_missing"])
            allowed["glob"] = bool(r["missing"] or r["polar_night"])
            self.ref_by_station.setdefault(r["station_id"], {})[day] = (r["precip_in"], allowed)
        ref.unpersist()
        self.requests = 0

    def request(self, sid: str, var: str, out_dir: str) -> dict:
        g, tr = self.spark, self.tracer
        path = os.path.join(out_dir, f"{sid}_{var}.smet")
        t0 = time.perf_counter()
        with tr.span("sources.read_smet") as sp:
            with sp.build():
                header, df = read_smet(g, os.path.join(self.smet_dir, f"{sid}.smet"), mode="d")
        with tr.span("api") as sp:
            with sp.build():
                st = one_station(g, sid, header, df, self.stats)
        if var == "hum":
            with tr.span(SPAN["temp"]) as sp:
                with sp.build():
                    disaggregate(st, "temp")
        with tr.span(SPAN[var]) as sp:
            with sp.build():
                out = disaggregate(st, var)
        with tr.span("sources.write_smet") as sp:
            with sp.build():
                write_smet(out, path, {"station_id": sid, **header}, mode="h")
        seconds = time.perf_counter() - t0
        ref = {d: (p, a[var]) for d, (p, a) in self.ref_by_station[sid].items()}
        res = check_smet(path, var, ref, self.n_rows)
        return {"seconds": seconds, "check_s": time.perf_counter() - t0 - seconds, **res}

    def warm_up(self, out_dir: str) -> list[dict]:
        """A request service answers from a long-lived session, so one
        untimed humidity request (which plans temperature too) warms the
        session's planner, JIT and reader and writer paths first."""
        os.makedirs(out_dir)
        sid = gen.station_id(0)
        return [_op("warmup", lambda: self.request(sid, "hum", out_dir))]

    def request_latencies(self, passes: list[dict]) -> list[float]:
        return [o["seconds"] for p in passes for o in p["ops"]]

    def run_pass(self, out_dir: str) -> list[dict]:
        os.makedirs(out_dir)
        ops = []
        for var in VARIABLES:
            # shift the station each rotation, so every station meets
            # every variable
            i = self.requests
            sid = gen.station_id((i + i // len(VARIABLES)) % self.n_stations)
            self.requests += 1
            ops.append(_op(var, lambda sid=sid, var=var: self.request(sid, var, out_dir)))
        return ops


WORKLOADS = {
    "fleet_chain": (FleetChain, {"n_stations": 5, "n_days": 365}),
    "disagg_long": (DisaggLong, {"n_stations": 5, "n_days": 3653}),
    "station_requests": (StationRequests, {"n_stations": 5, "n_days": 365}),
}
