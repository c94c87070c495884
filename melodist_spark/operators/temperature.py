"""Temperature disaggregation (daily → hourly).

Re-expresses `temperature.py:28-287` of the reference as one
declarative DataFrame plan per method: broadcast-join station metadata,
daily-grain lead/lag windows, a narrow hourly explode, and cosine
column expressions evaluated in whole-stage codegen. Scales to any
number of stations; the only shuffle is the per-station window sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from melodist_spark.functions.solar import sun_times_exprs
from melodist_spark.util.calendar import hourly_calendar
from melodist_spark.util.interpolate import interpolate_linear
from melodist_spark.util.planmemo import PlanMemo

HOURS_PER_DAY = 24
PI = 3.141592653589793
DEFAULT_SHIFT_HOURS = 2
DAYLENGTH_THRES = 3
MIN_LOC_POLAR = 6
MAX_LOC_POLAR = 18

SINE_METHODS = ("sine_min_max", "sine_mean", "sine")
MEAN_COURSE_METHODS = ("mean_course_min_max", "mean_course_mean")


_EXPR_MEMO = PlanMemo()


def _loc_exprs(min_max_time: str) -> dict[str, "F.Column"]:
    """The (min_loc, max_loc) column pair for a timing policy, over a
    frame that already carries sunrise/sunnoon (sun policies) and
    max_delta (sun_loc_shift) — split out so a multi-policy caller
    (the tagged registry union) derives several policies from ONE
    daily frame. All references are by NAME, so the built dict is
    context-free and memoized per application (``util.planmemo``)."""
    return _EXPR_MEMO.get(
        ("loc", min_max_time), lambda: _loc_exprs_build(min_max_time)
    )


def _loc_exprs_build(min_max_time: str) -> dict[str, "F.Column"]:
    if min_max_time == "fix":
        return {"min_loc": F.lit(7), "max_loc": F.lit(14)}
    if min_max_time == "sun_loc":
        # rounding-mode deviation (documented in SURVEY.md §6): Spark
        # F.round is HALF_UP while pandas Series.round is half-to-even,
        # so a sunrise/sunnoon landing exactly on .5 can place the
        # extreme one hour later than the reference. Sun times are
        # irrational-valued in practice; the boundary has measure zero.
        return {
            "min_loc": F.round("sunrise").cast("int"),
            "max_loc": (F.round("sunnoon") + DEFAULT_SHIFT_HOURS).cast("int"),
        }
    if min_max_time == "sun_loc_shift":
        min_loc = F.round("sunrise").cast("int")
        raw = F.round(F.col("sunnoon") + F.col("max_delta")).cast("int")
        # fallback where shift puts the max before the min
        # (`temperature.py:104-107`)
        return {
            "min_loc": min_loc,
            "max_loc": F.when(
                min_loc > raw,
                (F.round("sunnoon") + DEFAULT_SHIFT_HOURS).cast("int"),
            ).otherwise(raw),
        }
    raise ValueError(f"invalid min_max_time {min_max_time!r}")


def _neighbor_exprs(keys: list[str], date_col: str) -> dict[str, "F.Column"]:
    """Neighbour-day extreme values (the policy-independent half of the
    reference's ``locdf``); pandas `shift(±1,'D')` aligns by exact
    date, so guard the lead/lag with a 1-day diff; first/last rows
    fall back to the current day's values (`temperature.py:115-122`).
    By-name window trees (~0.24 s of py4j build) — memoized per
    application like :func:`_loc_exprs`."""
    return _EXPR_MEMO.get(
        ("neighbor", tuple(keys), date_col),
        lambda: _neighbor_exprs_build(keys, date_col),
    )


def _neighbor_exprs_build(keys: list[str], date_col: str) -> dict[str, "F.Column"]:
    w = Window.partitionBy(*keys).orderBy(date_col)
    nxt_ok = F.datediff(F.lead(date_col, 1).over(w), F.col(date_col)) == 1
    prv_ok = F.datediff(F.col(date_col), F.lag(date_col, 1).over(w)) == 1
    is_last = F.lead(date_col, 1).over(w).isNull()
    is_first = F.lag(date_col, 1).over(w).isNull()

    def shifted(col: str, lead: bool):
        if lead:
            v = F.when(nxt_ok, F.lead(col, 1).over(w))
            edge = is_last
        else:
            v = F.when(prv_ok, F.lag(col, 1).over(w))
            edge = is_first
        return F.when(edge, F.col(col)).otherwise(v)

    return {
        "min_val_cur": F.col("tmin"),
        "max_val_cur": F.col("tmax"),
        "mean_val_cur": F.col("temp"),
        "min_val_next": shifted("tmin", lead=True),
        "max_val_next": shifted("tmax", lead=True),
        "min_val_before": shifted("tmin", lead=False),
        "max_val_before": shifted("tmax", lead=False),
    }


def _locdf(
    daily: DataFrame,
    min_max_time: str,
    max_delta: DataFrame | None,
    keys: list[str],
    date_col: str,
) -> DataFrame:
    """Daily-grain frame with min/max hour locations and neighbour-day
    extreme values (the reference's ``locdf``, `temperature.py:72-122`).
    """
    d = daily
    if min_max_time == "sun_loc_shift":
        if max_delta is None:
            raise ValueError("max_delta table required for sun_loc_shift")
        d = (
            d.withColumn("month", F.month(date_col))
            .join(F.broadcast(max_delta), [*keys, "month"], "left")
            .drop("month")
        )
    d = d.withColumns(_loc_exprs(min_max_time))

    # one withColumns: a chained withColumn re-analyzes the growing
    # plan per call — measured ~0.4s of driver time on the fused
    # api_pipeline build
    return d.withColumns(_neighbor_exprs(keys, date_col))


def disaggregate_temperature(
    daily: DataFrame,
    method: str = "sine_min_max",
    min_max_time: str = "fix",
    mod_nighttime: bool = False,
    stations: DataFrame | None = None,
    max_delta: DataFrame | None = None,
    mean_course: DataFrame | None = None,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
    extra_cols: list[str] | None = None,
    polar: bool | str = "auto",
) -> DataFrame:
    """Disaggregate daily temperature to hourly values.

    Parameters mirror `temperature.py:28-57`:

    - ``method``: sine_min_max | sine_mean | sine | mean_course_min_max
      | mean_course_mean
    - ``min_max_time``: fix | sun_loc | sun_loc_shift (sine methods)
    - ``stations``: (station_id, lon, lat, timezone) — required for
      sun-based timing and polar-night handling
    - ``max_delta``: (station_id, month, max_delta) monthly shift from
      :func:`get_shift_by_data` (sun_loc_shift)
    - ``mean_course``: (station_id, month, hour, value) from
      ``mean_daily_course_by_month`` (mean_course methods; normalized
      for min_max, raw for mean)
    - ``extra_cols``: daily columns to carry through the explode into
      the output (fusion hook — downstream operators that need hourly
      temperature *and* daily context, e.g. the dewpoint-family
      humidity methods, consume the same exploded calendar instead of
      joining two hourly-grain tables)

    Returns (keys..., ts[, extra_cols...], temp).
    """
    if method not in SINE_METHODS + MEAN_COURSE_METHODS:
        raise ValueError("Invalid option")
    keys = list(keys)
    extras = [c for c in (extra_cols or []) if c != date_col]
    # date_col in extra_cols → keep the day column in the output too
    keep_date = extra_cols is not None and date_col in extra_cols
    out_extras = ([date_col] if keep_date else []) + extras

    if method in MEAN_COURSE_METHODS:
        if mean_course is None:
            raise ValueError("mean_course table required for mean_course methods")
        carry = [c for c in extras if c not in ("temp", "tmin", "tmax")]
        hourly = hourly_calendar(
            daily.select(*keys, date_col, "temp", "tmin", "tmax", *carry),
            date_col=date_col,
            ts_col=ts_col,
        ).withColumns({"month": F.month(ts_col), "hour": F.hour(ts_col)})
        if method == "mean_course_min_max":
            mc = mean_course.withColumnRenamed("value", "normval")
            out = hourly.join(F.broadcast(mc), [*keys, "month", "hour"], "left")
            temp = F.col("normval") * (F.col("tmax") - F.col("tmin")) + F.col("tmin")
        else:  # mean_course_mean: zero-mean course scaled by diurnal range
            w = Window.partitionBy(*keys, "month")
            mc = mean_course.withColumn(
                "mc0", F.col("value") - F.avg("value").over(w)
            ).drop("value")
            out = hourly.join(F.broadcast(mc), [*keys, "month", "hour"], "left")
            temp = F.col("temp") + (F.col("tmax") - F.col("tmin")) * F.col("mc0")
        return out.select(*keys, ts_col, *out_extras, temp.alias("temp"))

    # --- sine methods ---
    need_sun = min_max_time in ("sun_loc", "sun_loc_shift") or stations is not None
    d = daily
    if stations is not None:
        d = d.join(F.broadcast(stations.select(*keys, "lon", "lat", "timezone")), keys)
        # NAME args (not Column objects) so the by-name memo fires
        d = d.withColumns(sun_times_exprs(date_col, "lon", "lat", "timezone"))
    elif need_sun:
        raise ValueError("stations metadata required for sun-based timing")

    loc = _locdf(d, min_max_time, max_delta, keys, date_col)

    # polar handling only matters above ~64° (daylength < 3 h):
    # 'auto' probes max |lat| with a tiny driver agg to prune the whole
    # polar subplan for mid-latitude fleets; pass polar=False/True when
    # the fleet's extent is known to skip that job (it is one scan of
    # the stations table — cheap for a real metadata table, but a full
    # upstream aggregation when `stations` is derived from the facts)
    if polar == "auto":
        apply_polar = stations is not None and _polar_possible(stations)
    else:
        apply_polar = bool(polar) and stations is not None
    if apply_polar:
        wd = Window.partitionBy(*keys).orderBy(date_col)
        polar = F.col("daylength") < DAYLENGTH_THRES
        loc = (
            loc.withColumn("__polar", polar)
            .withColumn(
                "__p2n",
                (~polar) & F.coalesce(F.lag(polar, 1).over(wd), F.lit(False)),
            )
            .withColumn(
                "__n2p",
                (~polar) & F.coalesce(F.lead(polar, 1).over(wd), F.lit(False)),
            )
        )

    hourly = hourly_calendar(loc, date_col=date_col, ts_col=ts_col).withColumn(
        "hour", F.hour(ts_col)
    )

    hourly = hourly.withColumns(
        _EXPR_MEMO.get(("minmax_vals",), _minmax_val_exprs)
    )
    temp = _EXPR_MEMO.get(
        ("sine_temp", method, bool(mod_nighttime)),
        lambda: _sine_temp_expr(method, mod_nighttime),
    )
    hourly = hourly.withColumn("temp", temp)

    if apply_polar:
        return _apply_polar_override(hourly, keys, ts_col, out_extras)

    return hourly.select(*keys, ts_col, *out_extras, "temp")


def _minmax_val_exprs() -> dict[str, "F.Column"]:
    """:func:`transition_vals` over the ``min_loc``/``max_loc``
    columns. By-name trees — memoized per application."""
    min_val, max_val = transition_vals(
        F.col("hour"), F.col("min_loc"), F.col("max_loc")
    )
    return {"__minv": min_val, "__maxv": max_val}


def _sine_temp_expr(method: str, mod_nighttime: bool) -> "F.Column":
    """The hourly temperature of a sine method over the
    ``__minv``/``__maxv``/``hour``/``min_loc``/``max_loc`` columns —
    by-name, memoized per (method, mod_nighttime)."""
    hour, min_loc, max_loc = F.col("hour"), F.col("min_loc"), F.col("max_loc")
    if method in ("sine_min_max", "sine"):
        minv, maxv = F.col("__minv"), F.col("__maxv")
        if mod_nighttime:
            return sine_night_temp(minv, maxv, hour, min_loc, max_loc)
        return sine_min_max_temp(minv, maxv, hour, max_loc)
    mean, tmin, tmax = F.col("mean_val_cur"), F.col("min_val_cur"), F.col("max_val_cur")
    return sine_mean_temp(mean, tmin, tmax, hour, max_loc)


# -- per-hour formula builders: Columns in, Column out. A caller that
# evaluates several timing policies over one hourly frame passes each
# policy's (min_loc, max_loc) columns. --------------------------------


def transition_vals(
    hour: Column, min_loc: Column, max_loc: Column
) -> tuple[Column, Column]:
    """Smooth transitions (`temperature.py:127-137`): before the daily
    max use today's min, after it next day's; before the daily min use
    yesterday's max. Reads the neighbour extremes of
    :func:`_neighbor_exprs` by name; returns (min_val, max_val)."""
    min_val = F.when(hour < max_loc, F.col("min_val_cur")).otherwise(
        F.col("min_val_next")
    )
    max_val = F.when(hour < min_loc, F.col("max_val_before")).otherwise(
        F.col("max_val_cur")
    )
    return min_val, max_val


def sine_min_max_temp(
    minv: Column, maxv: Column, hour: Column, max_loc: Column
) -> Column:
    """sine_min_max: one cosine through the day's extremes peaking at
    ``max_loc`` (`temperature.py:141-143`)."""
    h = hour.cast("double")
    delta = maxv - minv
    v_trans = minv + delta / 2.0
    return v_trans + delta / 2.0 * F.cos(F.lit(2 * PI / HOURS_PER_DAY) * (h - max_loc))


def sine_night_temp(
    minv: Column, maxv: Column, hour: Column, min_loc: Column, max_loc: Column
) -> Column:
    """sine_min_max with ``mod_nighttime``: the three-piece cosine
    (`temperature.py:145-167`)."""
    h = hour.cast("double")
    delta = maxv - minv
    v_trans = minv + delta / 2.0
    span = max_loc - min_loc
    before_min = h <= min_loc
    between = (h > min_loc) & (h < max_loc)
    pi = F.lit(PI)
    t_before = v_trans + delta / 2.0 * F.cos(
        F.try_divide(pi, HOURS_PER_DAY - span) * (HOURS_PER_DAY - max_loc + h)
    )
    t_between = v_trans + delta / 2.0 * F.cos(
        1.25 * pi + F.try_divide(0.75 * pi, span) * (h - min_loc)
    )
    t_after = v_trans + delta / 2.0 * F.cos(
        F.try_divide(pi, HOURS_PER_DAY - span) * (h - max_loc)
    )
    return F.when(before_min, t_before).when(between, t_between).otherwise(t_after)


def sine_mean_temp(
    mean: Column, tmin: Column, tmax: Column, hour: Column, max_loc: Column
) -> Column:
    """sine_mean: the daily mean plus a cosine of half the diurnal
    range peaking at ``max_loc`` (`temperature.py:172-176`)."""
    h = hour.cast("double")
    dtr = tmax - tmin
    return mean + dtr / 2.0 * F.cos(F.lit(2 * PI / HOURS_PER_DAY) * (h - max_loc))


def _polar_possible(stations: DataFrame) -> bool:
    """daylength < 3 h needs |lat| ≳ 64°; 60° adds safety margin."""
    row = stations.agg(F.max(F.abs(F.col("lat"))).alias("m")).collect()[0]
    return row["m"] is not None and row["m"] > 60.0


def _apply_polar_override(
    hourly: DataFrame,
    keys: list[str],
    ts_col: str,
    out_extras: list[str] | None = None,
) -> DataFrame:
    """Polar-night flattening (`temperature.py:178-240`).

    Days with daylength < 3 h get no diurnal cycle: only tmin/tmax are
    placed at hours 6/18 (order depending on day-to-day warming trend)
    and the gaps are linearly interpolated; transition days are
    partially masked so the stitch into normal days is smooth.
    """
    avg_before = (F.col("min_val_before") + F.col("max_val_before")) / 2.0
    avg_cur = (F.col("min_val_cur") + F.col("max_val_cur")) / 2.0
    warming = avg_before <= avg_cur

    # __polar/__p2n/__n2p were computed at the daily grain before the
    # explode and arrive carried on every hourly row — no re-aggregation
    # or join against the hourly frame is needed
    in_sub = F.col("__polar") | F.col("__p2n") | F.col("__n2p")

    # values on the interpolation scaffold
    hr = F.hour(ts_col)
    polar_val = (
        F.when(hr == MIN_LOC_POLAR, F.when(warming, F.col("min_val_cur")).otherwise(F.col("max_val_cur")))
        .when(hr == MAX_LOC_POLAR, F.when(warming, F.col("max_val_cur")).otherwise(F.col("min_val_cur")))
        .otherwise(F.lit(None).cast("double"))
    )
    # polar→normal day: mask hours before min_loc, pin min at min_loc
    p2n_val = (
        F.when(hr < F.col("min_loc"), F.lit(None).cast("double"))
        .when(hr == F.col("min_loc"), F.col("min_val_cur"))
        .otherwise(F.col("temp"))
    )
    # normal→polar day: mask hours after max_loc
    n2p_val = F.when(hr > F.col("max_loc"), F.lit(None).cast("double")).otherwise(
        F.col("temp")
    )

    sub_val = (
        F.when(F.col("__polar"), polar_val)
        .when(F.col("__p2n"), p2n_val)
        .when(F.col("__n2p"), n2p_val)
    )

    # the reference writes the whole interpolated subseries back
    # (`temperature.py:240`): subseries rows are replaced wholesale, so
    # the stitch is a UNION of untouched rows with the interpolated
    # subseries — no join against the full hourly frame
    extras = out_extras or []
    keep = hourly.filter(~in_sub).select(*keys, ts_col, *extras, "temp")
    sub = hourly.filter(in_sub).withColumn("__sv", sub_val)
    sub = interpolate_linear(
        sub, "__sv", keys=keys, ts_col=ts_col, limit=23, limit_direction="forward"
    ).select(*keys, ts_col, *extras, F.col("__sv").alias("temp"))
    return keep.unionByName(sub)


def get_shift_by_data(
    hourly: DataFrame,
    stations: DataFrame,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    temp_col: str = "temp",
) -> DataFrame:
    """Monthly mean shift between observed warmest hour and solar noon.

    Reference `temperature.py:267-287`: per day, the hour of maximum
    temperature (``max_by`` — no self-join, no idxmax collect), minus
    sunnoon, averaged by month. Returns (keys..., month, max_delta).

    Ties on the daily max resolve to the EARLIEST hour (the reference's
    ``idxmax`` first-occurrence rule): ``max_by`` over the
    ``(temp, -hour)`` struct is deterministic across partitionings,
    whereas a bare ``max_by(hour, temp)`` would be free to return any
    tied hour.
    """
    keys = list(keys)
    daily_max_hour = (
        hourly.filter(F.col(temp_col).isNotNull())
        .groupBy(*keys, F.to_date(ts_col).alias("date"))
        .agg(
            F.max_by(
                F.hour(ts_col),
                F.struct(F.col(temp_col), -F.hour(ts_col)),
            ).alias("max_hour")
        )
    )
    with_sun = daily_max_hour.join(
        F.broadcast(stations.select(*keys, "lon", "lat", "timezone")), keys
    ).withColumns(sun_times_exprs("date", "lon", "lat", "timezone"))
    return (
        with_sun.withColumn("delta", F.col("max_hour") - F.col("sunnoon"))
        .groupBy(*keys, F.month("date").alias("month"))
        .agg(F.avg("delta").alias("max_delta"))
    )
