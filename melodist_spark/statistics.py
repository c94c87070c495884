"""Multi-station calibration-parameter bundle with JSON persistence.

Spark-first re-expression of ``StationStatistics``
(`stationstatistics.py:31-288`): every parameter family is a *long*
DataFrame keyed by station_id (broadcastable into the disaggregation
plans), instead of per-object pandas attributes. One calc_* call
calibrates **all** stations in one distributed job.

JSON layout: one document per station id, same field names as the
reference bundle (`stationstatistics.py:194-288`) so users can eyeball
parity; matrix-valued params are stored long-form.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from melodist_spark.functions.solar import potential_radiation, sun_times_exprs
from melodist_spark.operators.aggregations import (
    mean_daily_course_by_month,
    month_hour_precip_mean,
)
from melodist_spark.operators.cascade import build_casc
from melodist_spark.operators.humidity import dewpoint_regression
from melodist_spark.operators.radiation import (
    fit_angstroem_params,
    fit_bristow_campbell_params,
)
from melodist_spark.operators.temperature import get_shift_by_data
from melodist_spark.operators.wind import fit_cosine_function
from melodist_spark.util.calendar import fill_hourly_calendar, hourly_calendar
from melodist_spark.util.execution import local_frame

MONTH_RANGES = {
    "all": [list(range(1, 13))],
    "seasonal": [[3, 4, 5], [6, 7, 8], [9, 10, 11], [12, 1, 2]],
    "monthly": [[m] for m in range(1, 13)],
}
_D, _I = DoubleType(), IntegerType()


class StationStatistics:
    """Parameter tables for all stations at once.

    Attributes (DataFrames, possibly None until calibrated):

    - ``wind``: (station_id, a, b, t_shift)
    - ``hum``: (station_id, a0, a1, kr)
    - ``hum_month_hour_precip_mean``: (station_id, month, hour, wet, hum_mean)
    - ``temp_max_delta``: (station_id, month, max_delta)
    - ``temp_mean_course``: (station_id, month, hour, value) normalized
    - ``glob_angstroem``: (station_id, month, a, b)
    - ``glob_bristcamp``: (station_id, month, a, c)
    - ``glob_mean_course``: (station_id, month, hour, value)
    - ``precip_stats``: build_casc output rows
    - ``precip_months``: list of month lists (seasons)
    """

    def __init__(self, data: DataFrame | None = None, stations: DataFrame | None = None):
        self.data = data  # hourly calibration observations
        self.stations = stations  # (station_id, lon, lat, timezone)
        self.wind: DataFrame | None = None
        self.hum: DataFrame | None = None
        self.hum_month_hour_precip_mean: DataFrame | None = None
        self.temp_max_delta: DataFrame | None = None
        self.temp_mean_course: DataFrame | None = None
        self.glob_angstroem: DataFrame | None = None
        self.glob_bristcamp: DataFrame | None = None
        self.glob_mean_course: DataFrame | None = None
        self.precip_stats: DataFrame | None = None
        self.precip_months: list[list[int]] | None = None

    # -- calibration ------------------------------------------------------

    def calc_wind_stats(self):
        """`stationstatistics.py:96-101`."""
        self.wind = fit_cosine_function(self.data)
        return self

    def calc_humidity_stats(self):
        """`stationstatistics.py:103-111` (kr fixed to 12)."""
        self.hum = dewpoint_regression(self.data).withColumn("kr", F.lit(12))
        self.hum_month_hour_precip_mean = month_hour_precip_mean(self.data)
        return self

    def calc_temperature_stats(self):
        """`stationstatistics.py:113-122`."""
        self.temp_max_delta = get_shift_by_data(self.data, self.stations)
        self.temp_mean_course = mean_daily_course_by_month(
            self.data, "temp", normalize=True
        )
        return self

    def calc_precipitation_stats(
        self, months=None, avg_stats: bool = True, percentile: float = 50
    ):
        """`stationstatistics.py:75-94`. The cascade pairs hours by
        position, so absent hours are filled with nulls first: a missing
        row then counts as the dry hour a null one does."""
        if months is None:
            months = MONTH_RANGES["all"]
        self.precip_months = [list(m) for m in months]
        hourly = fill_hourly_calendar(self.data.select("station_id", "ts", "precip"))
        self.precip_stats = build_casc(
            hourly, months=months, avg_stats=avg_stats, percentile=percentile
        )
        return self

    def calc_radiation_stats(self, data_daily: DataFrame | None = None, how: str = "all"):
        """`stationstatistics.py:124-192`: mean course always; Angstroem
        and Bristow-Campbell fits per month range when daily data given."""
        if how not in MONTH_RANGES:
            raise ValueError(f"invalid how {how!r}")
        self.glob_mean_course = mean_daily_course_by_month(self.data, "glob")

        if data_daily is None:
            return self

        d = data_daily.join(
            F.broadcast(self.stations.select("station_id", "lon", "lat", "timezone")),
            "station_id",
        ).withColumns(sun_times_exprs("date", "lon", "lat", "timezone"))
        pot_daily = (
            hourly_calendar(d.select("station_id", "date", "lon", "lat", "timezone"))
            .groupBy("station_id", "date")
            .agg(F.avg(potential_radiation("ts", "lon", "lat", "timezone")).alias("pot_rad_daily"))
        )
        obs_daily = self.data.groupBy("station_id", F.to_date("ts").alias("date")).agg(
            F.avg("glob").alias("obs_rad_daily")
        )

        ranges = MONTH_RANGES[how]
        month_to_range = ", ".join(f"{m}, {i}" for i, ms in enumerate(ranges) for m in ms)
        range_months = ", ".join(f"array({', '.join(map(str, ms))})" for ms in ranges)
        full = d.join(pot_daily, ["station_id", "date"]).join(
            obs_daily, ["station_id", "date"], "left"
        ).withColumn("__range", F.expr(f"map({month_to_range})[month(`date`)]"))
        month = f"explode(array({range_months})[__range]) AS month"
        keys = ["station_id", "__range"]
        if "ssd" in data_daily.columns:
            ang = fit_angstroem_params(full, keys)
            self.glob_angstroem = ang.selectExpr("station_id", month, "a", "b")
        if "tmin" in data_daily.columns and "tmax" in data_daily.columns:
            bc = fit_bristow_campbell_params(full, keys)
            self.glob_bristcamp = bc.selectExpr("station_id", month, "a", "c")
        return self

    # -- persistence ------------------------------------------------------

    # column types of every stored parameter table, as calibration
    # produces them: the JSON layout's columns and the schema
    # ``from_json`` loads them with
    _FRAME_SPECS = {
        "wind": {"a": _D, "b": _D, "t_shift": _D},
        "hum": {"a0": _D, "a1": _D, "kr": _I},
        "hum_month_hour_precip_mean": {
            "month": _I, "hour": _I, "wet": BooleanType(), "hum_mean": _D,
        },
        "temp_max_delta": {"month": _I, "max_delta": _D},
        "temp_mean_course": {"month": _I, "hour": _I, "value": _D},
        "glob_angstroem": {"month": _I, "a": _D, "b": _D},
        "glob_bristcamp": {"month": _I, "a": _D, "c": _D},
        "glob_mean_course": {"month": _I, "hour": _I, "value": _D},
        "precip_stats": {
            "season": _I,
            "level": _I,
            **{c: ArrayType(_D) for c in ("p01", "p10", "pxx", "wxx", "threshold")},
            "percentile": _D,
        },
    }

    def to_json(self, filename: str | None = None) -> str | None:
        """Serialize all parameter tables to one JSON document keyed by
        station id (reference: `stationstatistics.py:194-224`)."""
        bundle: dict = {}

        def put(attr: str):
            df = getattr(self, attr)
            if df is None:
                return
            cols = self._FRAME_SPECS[attr]
            for row in df.collect():
                st = bundle.setdefault(str(row["station_id"]), {})
                st.setdefault(attr, []).append({c: row[c] for c in cols})

        for attr in self._FRAME_SPECS:
            put(attr)
        for st in bundle.values():
            st["precip_months"] = self.precip_months

        j = json.dumps(bundle, indent=2, default=float)
        if filename is None:
            return j
        with open(filename, "w") as f:
            f.write(j)
        return None

    @classmethod
    def from_json(cls, spark: SparkSession, filename: str) -> "StationStatistics":
        """Rebuild the parameter DataFrames (reference:
        `stationstatistics.py:226-288`).

        Each table is a JVM ``LocalRelation`` built from Arrow with the
        column types of ``_FRAME_SPECS``: it scans without Python
        workers, loads a family whose parameter is ``1`` for one
        station and ``0.5`` for another, keeps a null parameter null,
        and comes back with the dtypes calibration gives."""
        with open(filename) as f:
            bundle = json.load(f)

        stats = cls()
        rows_by_attr: dict[str, list[dict]] = {}
        months = None
        for sid, st in bundle.items():
            months = st.get("precip_months") or months
            for attr, rows in st.items():
                if attr == "precip_months":
                    continue
                for r in rows:
                    rows_by_attr.setdefault(attr, []).append(
                        dict(station_id=sid, **r)
                    )
        stats.precip_months = months
        for attr, rows in rows_by_attr.items():
            schema = StructType(
                [StructField("station_id", StringType())]
                + [StructField(c, t) for c, t in cls._FRAME_SPECS[attr].items()]
            )
            setattr(stats, attr, local_frame(spark, rows, schema))
        return stats
