"""Seeded, distributed input generation for the benchmark workloads.

Every value is a pure function of (seed, station index, hour or day
index) built from ``xxhash64`` over ``spark.range`` rows, so the same
seed gives the same files for any partition count, and no data passes
through the driver. The program under test sees only the files written
here.

Properties the workloads depend on:

- about 1% of hourly observations are missing, plus a few whole
  station-days (never a station's first or last day, so the calendar
  extent is known in advance);
- a realistic wet-day fraction (about 35%);
- latitudes from 35 to 63 N, with every fifth station above the Arctic
  Circle (67-71 N), so polar night and midnight sun occur.
"""

from __future__ import annotations

import datetime as dt
import json
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

START = dt.date(2000, 1, 1)
MISSING_HOUR_SHARE = 0.01
MISSING_DAY_SHARE = 0.003
WET_DAY_SHARE = 0.35
POLAR_EVERY = 5


def station_id(i: int) -> str:
    return f"st{i:04d}"


def _u(seed: int, salt: int, *cols) -> Column:
    """Uniform [0, 1) keyed on (seed, salt, cols) — partition-independent."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(1 << 53)).cast("double") / F.lit(float(1 << 53))


def _gauss(seed: int, salt: int, *cols) -> Column:
    u1 = _u(seed, salt, *cols)
    u2 = _u(seed, salt + 1, *cols)
    return F.sqrt(-2.0 * F.log(u1 + F.lit(1e-12))) * F.cos(2 * math.pi * u2)


def _station_cols(seed: int, sid: Column) -> dict[str, Column]:
    polar = (sid % POLAR_EVERY) == (POLAR_EVERY - 1)
    return {
        "station_id": F.format_string("st%04d", sid),
        "lon": F.round(5.0 + 20.0 * _u(seed, 1, sid), 4),
        "lat": F.round(
            F.when(polar, 67.0 + 4.0 * _u(seed, 2, sid)).otherwise(
                35.0 + 28.0 * _u(seed, 2, sid)
            ),
            4,
        ),
        "timezone": F.lit(1.0),
    }


def stations(spark: SparkSession, seed: int, n_stations: int) -> DataFrame:
    """(station_id, lon, lat, timezone)."""
    sid = F.col("id")
    return spark.range(n_stations, numPartitions=1).select(
        *[c.alias(k) for k, c in _station_cols(seed, sid).items()]
    )


def _sin_elev(day_of_year: Column, solar_hour: Column, lat: Column) -> Column:
    decl = F.radians(F.lit(23.44)) * F.sin(2 * math.pi * (day_of_year - 81) / 365.0)
    phi = F.radians(lat)
    omega = F.radians((solar_hour - 12.0) * 15.0)
    return F.sin(phi) * F.sin(decl) + F.cos(phi) * F.cos(decl) * F.cos(omega)


def _day_frame(spark: SparkSession, seed: int, n_stations: int, n_days: int,
               partitions: int) -> DataFrame:
    """One row per (station, day) with the day-level random state."""
    idx = F.col("id")
    sid = (idx / n_days).cast("long")
    day = idx % n_days
    st = _station_cols(seed, sid)
    return spark.range(n_stations * n_days, numPartitions=partitions).select(
        sid.alias("sid"),
        day.alias("day"),
        F.date_add(F.lit(START), day.cast("int")).alias("date"),
        st["lon"].alias("lon"),
        st["lat"].alias("lat"),
        (_u(seed, 10, sid, day) < WET_DAY_SHARE).alias("wet"),
        _gauss(seed, 12, sid, day).alias("anom"),
        (
            (_u(seed, 14, sid, day) < MISSING_DAY_SHARE)
            & (day > 0)
            & (day < n_days - 1)
        ).alias("gone"),
    )


def _temp_base(lat: Column, doy: Column) -> Column:
    amp = 11.0 * (1.0 + (lat - 45.0) / 60.0)
    return 288.15 - 0.6 * (F.abs(lat) - 45.0) + amp * F.sin(2 * math.pi * (doy - 110) / 365.25)


def hourly_obs(spark: SparkSession, seed: int, n_stations: int, n_days: int,
               partitions: int = 8) -> DataFrame:
    """Hourly observations (station_id, ts, temp[K], precip[mm], glob[W/m2],
    hum[%], wind[m/s], ssd[min]) with missing hours and days removed."""
    d = _day_frame(spark, seed, n_stations, n_days, partitions).filter(~F.col("gone"))
    h = d.withColumn("hour", F.explode(F.sequence(F.lit(0), F.lit(23))))
    sid, day, hour = F.col("sid"), F.col("day"), F.col("hour")
    doy = F.dayofyear("date")
    sin_el = _sin_elev(doy, hour + 0.5 + F.col("lon") / 15.0 - 1.0, F.col("lat"))
    wet = F.col("wet").cast("double")
    temp = (
        _temp_base(F.col("lat"), doy)
        + 4.5 * F.cos(2 * math.pi * (hour - 15) / 24.0)
        + 2.5 * F.col("anom")
        + 0.7 * _gauss(seed, 20, sid, day, hour)
    )
    wet_hour = F.col("wet") & (_u(seed, 22, sid, day, hour) < 0.3)
    precip = F.when(
        wet_hour, F.round(-F.log(_u(seed, 23, sid, day, hour) + 1e-9) * 1.5, 2)
    ).otherwise(0.0)
    clear = F.greatest(sin_el, F.lit(0.0))
    glob = 1000.0 * clear * (0.75 - 0.45 * wet + 0.1 * _u(seed, 24, sid, day, hour))
    hum = F.least(
        F.greatest(
            75.0 - 9.0 * F.cos(2 * math.pi * (hour - 15) / 24.0) + 12.0 * wet
            + 4.0 * _gauss(seed, 26, sid, day, hour),
            F.lit(5.0),
        ),
        F.lit(100.0),
    )
    wind = F.greatest(
        F.lit(0.2),
        2.5 + 1.0 * F.cos(math.pi * (hour - 14) / 12.0)
        - F.log(_u(seed, 28, sid, day, hour) + 1e-9) * 0.8,
    )
    ssd = F.when(
        sin_el > 0.05, 60.0 * F.greatest(F.lit(0.0), 1.0 - 0.9 * wet - 0.3 * _u(seed, 29, sid, day, hour))
    ).otherwise(0.0)
    ts = F.timestamp_seconds(F.unix_timestamp(F.col("date").cast("timestamp")) + hour * 3600)
    return h.filter(_u(seed, 30, sid, day, hour) >= MISSING_HOUR_SHARE).select(
        F.format_string("st%04d", sid).alias("station_id"),
        ts.alias("ts"),
        F.round(temp, 2).alias("temp"),
        precip.alias("precip"),
        F.round(glob, 2).alias("glob"),
        F.round(hum, 2).alias("hum"),
        F.round(wind, 2).alias("wind"),
        F.round(ssd, 2).alias("ssd"),
    )


def daily_obs(spark: SparkSession, seed: int, n_stations: int, n_days: int,
              partitions: int = 8) -> DataFrame:
    """Daily records (station_id, date, temp, tmin, tmax, precip, glob,
    hum, hum_min, hum_max, wind, ssd[h]) with missing days removed. All
    values carry two decimals, so a SMET round trip is exact."""
    d = _day_frame(spark, seed, n_stations, n_days, partitions).filter(~F.col("gone"))
    sid, day = F.col("sid"), F.col("day")
    doy = F.dayofyear("date")
    wet = F.col("wet").cast("double")
    temp = _temp_base(F.col("lat"), doy) + 2.5 * F.col("anom")
    rng = 4.0 + 8.0 * _u(seed, 40, sid, day) * (1.0 - 0.5 * wet)
    noon = F.greatest(_sin_elev(doy, F.lit(12.0), F.col("lat")), F.lit(0.0))
    glob = 330.0 * noon * (0.75 - 0.45 * wet + 0.1 * _u(seed, 41, sid, day))
    hum = 72.0 + 12.0 * wet + 5.0 * _gauss(seed, 42, sid, day)
    hum_rng = 10.0 + 20.0 * _u(seed, 44, sid, day)
    precip = F.when(F.col("wet"), -F.log(_u(seed, 45, sid, day) + 1e-9) * 5.0).otherwise(0.0)
    wind = 1.0 - F.log(_u(seed, 46, sid, day) + 1e-9) * 2.0
    ssd = 14.0 * noon * (1.0 - 0.8 * wet) * _u(seed, 47, sid, day)
    r2 = lambda c: F.round(c, 2)  # noqa: E731
    return d.select(
        F.format_string("st%04d", sid).alias("station_id"),
        F.col("date"),
        r2(temp).alias("temp"),
        r2(temp - rng / 2).alias("tmin"),
        r2(temp + rng / 2).alias("tmax"),
        r2(precip).alias("precip"),
        r2(glob).alias("glob"),
        r2(F.least(F.greatest(hum, F.lit(20.0)), F.lit(95.0))).alias("hum"),
        r2(F.greatest(hum - hum_rng, F.lit(5.0))).alias("hum_min"),
        r2(F.least(hum + hum_rng, F.lit(100.0))).alias("hum_max"),
        r2(wind).alias("wind"),
        r2(ssd).alias("ssd"),
    )


def calendar(spark: SparkSession, seed: int, n_stations: int, n_days: int) -> DataFrame:
    """(station_id, date, lat, gone) for every station-day of the series;
    ``gone`` marks the whole days the generators removed."""
    return _day_frame(spark, seed, n_stations, n_days, 1).select(
        F.format_string("st%04d", F.col("sid")).alias("station_id"),
        "date",
        "lat",
        "gone",
    )


def stats_bundle(seed: int, n_stations: int) -> dict:
    """A calibration bundle in the layout ``StationStatistics.to_json``
    writes, with per-station parameters drawn from plausible ranges:
    the five families the disaggregation methods of the benchmark use."""
    import random

    import numpy as np

    from melodist_spark.operators.cascade import CascadeStatistics

    # cascade branching probabilities must sum to one per class and box
    # type, so every station shares the published sample statistics
    sample = CascadeStatistics()
    sample.fill_with_sample_data()
    casc = {k: (v if k == "percentile" else np.ravel(v).tolist())
            for k, v in sample.to_dict().items()} | {"season": 0, "level": -1}
    months = list(range(1, 13))
    bundle = {}
    for i in range(n_stations):
        r = random.Random(f"{seed}:{i}")
        bundle[station_id(i)] = {
            "wind": [{"a": round(r.uniform(0.1, 0.4), 4), "b": round(r.uniform(0.9, 1.05), 4),
                      "t_shift": round(r.uniform(12.0, 16.0), 4)}],
            "hum": [{"a0": round(r.uniform(-1.5, 0.5), 4), "a1": round(r.uniform(0.95, 1.0), 4),
                     "kr": 12}],
            "glob_bristcamp": [{"month": m, "a": round(r.uniform(0.68, 0.78), 4),
                                "c": round(r.uniform(2.0, 2.6), 4)} for m in months],
            "precip_stats": [casc],
            "precip_months": [months],
        }
    return bundle


def write_bundle(path: str, seed: int, n_stations: int) -> None:
    with open(path, "w") as f:
        json.dump(stats_bundle(seed, n_stations), f)
