"""melodist_spark — a PySpark-native meteorological time-series
disaggregation engine with the capabilities of kristianfoerster/melodist.

Everything operates on *long-format* DataFrames keyed by
``(station_id, ts)`` (hourly/sub-hourly) or ``(station_id, date)``
(daily), so a single job disaggregates many stations at once; the
reference library's single-station pandas objects map to the degenerate
one-station case.

Design principles (see SURVEY.md §7):
- declarative DataFrame plans; Catalyst handles pushdown/pruning/joins
- parameter tables are tiny → always broadcast-joined
- Python only inside the spline fill's `applyInPandas` kernel
- deterministic, seedable randomness keyed by counters (the reference is unseeded)
"""

from melodist_spark.session import get_spark
from melodist_spark.util.calendar import (
    hourly_calendar,
    distribute_equally,
    seasonal_subset,
    sub_level_calendar,
)
from melodist_spark.util.gaps import detect_gaps, drop_incomplete_days
from melodist_spark.functions.meteo import (
    vapor_pressure,
    dewpoint_temperature,
)
from melodist_spark.functions.solar import sun_times, potential_radiation
from melodist_spark.operators.aggregations import (
    daily_from_hourly,
    mean_daily_course_by_month,
    month_hour_precip_mean,
)
from melodist_spark.operators.temperature import (
    disaggregate_temperature,
    get_shift_by_data,
)
from melodist_spark.operators.humidity import (
    disaggregate_humidity,
    dewpoint_regression,
)
from melodist_spark.operators.wind import disaggregate_wind, fit_cosine_function
from melodist_spark.operators.radiation import (
    disaggregate_radiation,
    angstroem,
    bristow_campbell,
    fit_angstroem_params,
    fit_bristow_campbell_params,
)
from melodist_spark.operators.precipitation import (
    disagg_prec,
    precip_master_station,
)
from melodist_spark.operators.cascade import (
    CascadeStatistics,
    build_casc,
    collect_cascade_stats,
    disagg_prec_cascade,
)
from melodist_spark.operators.asof import asof_join
from melodist_spark.functions.stats import skill_scores
from melodist_spark.sources.dwd import read_dwd, read_dwd_metadata
from melodist_spark.sources.knmi import read_knmi
from melodist_spark.streaming.daily_agg import (
    streaming_daily_from_hourly,
    streaming_gap_monitor,
    streaming_sessions,
)
from melodist_spark.streaming.stateful import streaming_disaggregate_temperature

__all__ = [
    "get_spark",
    "hourly_calendar",
    "distribute_equally",
    "seasonal_subset",
    "sub_level_calendar",
    "detect_gaps",
    "drop_incomplete_days",
    "vapor_pressure",
    "dewpoint_temperature",
    "sun_times",
    "potential_radiation",
    "daily_from_hourly",
    "mean_daily_course_by_month",
    "month_hour_precip_mean",
    "disaggregate_temperature",
    "get_shift_by_data",
    "disaggregate_humidity",
    "dewpoint_regression",
    "disaggregate_wind",
    "fit_cosine_function",
    "disaggregate_radiation",
    "angstroem",
    "bristow_campbell",
    "fit_angstroem_params",
    "fit_bristow_campbell_params",
    "disagg_prec",
    "precip_master_station",
    "CascadeStatistics",
    "build_casc",
    "collect_cascade_stats",
    "disagg_prec_cascade",
    "asof_join",
    "skill_scores",
    "read_dwd",
    "read_dwd_metadata",
    "read_knmi",
    "streaming_daily_from_hourly",
    "streaming_gap_monitor",
    "streaming_sessions",
    "streaming_disaggregate_temperature",
]
