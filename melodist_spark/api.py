"""High-level multi-station API mirroring the reference's ``Station``.

The reference object (`station.py:27-179`) holds one station's daily
frame, disaggregated frame, statistics and sun times, with
``disaggregate_<var>(method=...)`` dispatchers (`station.py:181-401`).
``Stations`` is the same surface for *all* stations at once: every
property is a DataFrame keyed by station_id, every dispatcher compiles
to a distributed plan, and ``data_disagg`` accumulates one hourly
column per disaggregated variable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from melodist_spark.functions.solar import sun_times as _sun_times
from melodist_spark.operators import temperature as _temperature
from melodist_spark.operators.cascade import disagg_prec_cascade
from melodist_spark.operators.humidity import disaggregate_humidity
from melodist_spark.operators.precipitation import disagg_prec
from melodist_spark.operators.radiation import disaggregate_radiation
from melodist_spark.operators.temperature import disaggregate_temperature
from melodist_spark.operators.wind import disaggregate_wind
from melodist_spark.statistics import StationStatistics
from melodist_spark.util.calendar import fill_daily_calendar, prepare_interpolation_data, seasonal_subset
from melodist_spark.util.interpolate import interpolate_linear


class Stations:
    """All-station equivalent of the reference ``Station``.

    Parameters
    ----------
    meta : DataFrame(station_id, lon, lat, timezone[, name])
    data_daily : daily observations (validated + calendar-filled on set,
        `station.py:81-103`)
    validate : 'lazy' (default) or 'eager'; anything else raises
        ValueError. The Kelvin plausibility check on ``temp`` differs
        from the reference's raise-at-assignment: 'lazy' compiles
        ``raise_error`` into the column, so it fires only when (and
        where) ``temp`` is actually evaluated — a plan that prunes the
        column, or filters out the offending rows first, will NOT
        raise. That is the right trade at fleet scale (assignment
        stays a no-job operation instead of paying a full scan), but
        callers wanting the reference's fail-fast contract must pass
        ``validate='eager'``.
    """

    def __init__(
        self,
        meta: DataFrame,
        data_daily: DataFrame | None = None,
        validate: str = "lazy",
    ):
        if validate not in ("lazy", "eager"):
            raise ValueError(f"validate must be 'lazy' or 'eager', got {validate!r}")
        self.meta = meta
        self._data_daily: DataFrame | None = None
        self.statistics: StationStatistics | None = None
        self.data_disagg: dict[str, DataFrame] = {}
        self._validate = validate
        # (meta, polar-night possible) — see _polar
        self._polar_probe: tuple[DataFrame, bool] | None = None
        if data_daily is not None:
            self.data_daily = data_daily

    # -- data_daily with reference ingest semantics -----------------------

    @property
    def data_daily(self) -> DataFrame | None:
        return self._data_daily

    @data_daily.setter
    def data_daily(self, df: DataFrame):
        # plausibility check: daily temperature must look like Kelvin
        # (`station.py:92-96`). Default 'lazy' compiles the check into
        # the plan (raise_error fires during the first downstream pass
        # — no extra job, which matters when assignment would otherwise
        # pay a full scan of fleet-scale daily data just to validate);
        # 'eager' reproduces the reference's raise-at-assignment.
        if "temp" in df.columns:
            if self._validate == "eager":
                n_bad = df.filter(F.col("temp") < 200).count()
                if n_bad:
                    raise ValueError(
                        f"{n_bad} daily temperature values < 200 K — "
                        "data must be in Kelvin"
                    )
            else:
                df = df.withColumn(
                    "temp",
                    F.when(
                        F.col("temp") < 200,
                        F.raise_error(
                            F.format_string(
                                "daily temperature %s < 200 K — data must "
                                "be in Kelvin",
                                F.col("temp"),
                            )
                        ),
                    ).otherwise(F.col("temp")),
                )
        self._data_daily = fill_daily_calendar(df)

    def calc_sun_times(self) -> DataFrame:
        """Per-day sunrise/sunnoon/sunset/daylength (`station.py:172-179`)."""
        dates = self._data_daily.select("station_id", "date").join(
            F.broadcast(self.meta.select("station_id", "lon", "lat", "timezone")),
            "station_id",
        )
        return _sun_times(dates)

    def calibrate(self, data_hourly: DataFrame) -> StationStatistics:
        """Build the full statistics bundle from hourly observations."""
        s = StationStatistics(data_hourly, self.meta)
        s.calc_wind_stats()
        s.calc_humidity_stats()
        s.calc_temperature_stats()
        s.calc_precipitation_stats()
        s.calc_radiation_stats(data_daily=self._data_daily)
        self.statistics = s
        return s

    # -- dispatchers (`station.py:181-401`) -------------------------------

    def _polar(self) -> bool:
        """Whether any station may see polar night, probed once per
        ``meta`` table: every temperature build — direct or fused into
        humidity — gets the answer as an explicit ``polar=``, so a
        request that plans temperature twice runs one probe job."""
        cached = self._polar_probe
        if cached is None or cached[0] is not self.meta:
            cached = (self.meta, _temperature._polar_possible(self.meta))
            self._polar_probe = cached
        return cached[1]

    def disaggregate_temperature(self, method="sine_min_max", min_max_time="fix", **kw):
        s = self.statistics
        if method in _temperature.SINE_METHODS and "polar" not in kw:
            kw = dict(kw, polar=self._polar())
        spec = dict(
            method=method,
            min_max_time=min_max_time,
            stations=self.meta,
            max_delta=s.temp_max_delta if s else None,
            mean_course=s.temp_mean_course if s else None,
            **kw,
        )
        out = disaggregate_temperature(self._data_daily, **spec)
        self.data_disagg["temp"] = out
        # remembered so a later humidity call can fuse the temperature
        # into its own calendar explode instead of joining two
        # hourly-grain tables (one shuffle less at fleet scale)
        self._temp_spec = spec
        return out

    def disaggregate_humidity(self, method="equal", preserve_daily_mean=False, **kw):
        s = self.statistics
        temp_spec = getattr(self, "_temp_spec", None)
        if temp_spec is not None and "hourly_temp" not in kw:
            kw = dict(kw, temp_disagg=temp_spec)
        else:
            kw = dict(kw, hourly_temp=self.data_disagg.get("temp"))
        out = disaggregate_humidity(
            self._data_daily,
            method=method,
            hum_params=s.hum if s else None,
            month_hour_precip_mean=s.hum_month_hour_precip_mean if s else None,
            preserve_daily_mean=preserve_daily_mean,
            **kw,
        )
        self.data_disagg["hum"] = out
        return out

    def disaggregate_wind(self, method="equal", **kw):
        s = self.statistics
        out = disaggregate_wind(
            self._data_daily,
            method=method,
            wind_params=s.wind if s else None,
            **kw,
        )
        self.data_disagg["wind"] = out
        return out

    def disaggregate_radiation(self, method="pot_rad", **kw):
        s = self.statistics
        out = disaggregate_radiation(
            self._data_daily,
            self.meta,
            method=method,
            angstr_params=s.glob_angstroem if s else None,
            bristcamp_params=s.glob_bristcamp if s else None,
            mean_course=s.glob_mean_course if s else None,
            **kw,
        )
        self.data_disagg["glob"] = out
        return out

    def disaggregate_precipitation(
        self, method="equal", master_hourly=None, seed=42, **kw
    ):
        """Seasonal routing for the cascade (`station.py:335-348`):
        each season's daily subset is disaggregated with its own
        statistics and the outputs unioned."""
        if method == "cascade":
            s = self.statistics
            if s is None or s.precip_stats is None:
                raise ValueError("cascade needs calibrated precipitation statistics")
            # stats stay a DataFrame — joined into the station-days per
            # station, never collected to the driver (fleet-scale safe)
            parts = []
            for season_idx, months in enumerate(s.precip_months):
                sub = seasonal_subset(self._data_daily, months, ts_col="date")
                parts.append(
                    disagg_prec_cascade(
                        sub, s.precip_stats, seed=seed, season=season_idx, **kw
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = disagg_prec(
                self._data_daily, method=method, master_hourly=master_hourly,
                seed=seed, **kw,
            )
        self.data_disagg["precip"] = out
        return out

    def interpolate(self, column_hours: dict[str, int], method="linear",
                    limit=24, limit_direction="both", **kw):
        """Anchor daily columns at given hours and interpolate between
        them (`station.py:403-437`). ``method='linear'`` is the
        window-function path; the cubic family ('cubic', 'spline',
        'cubicspline') runs the per-station spline kernel."""
        scaffold = prepare_interpolation_data(self._data_daily, column_hours)
        if method == "linear":
            return interpolate_linear(
                scaffold, "value", limit=limit, limit_direction=limit_direction,
                **kw,
            )
        from melodist_spark.util.interpolate import interpolate_spline

        return interpolate_spline(scaffold, "value", method=method, **kw)
