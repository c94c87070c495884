from melodist_spark.streaming.daily_agg import (
    streaming_daily_from_hourly,
    streaming_gap_monitor,
    streaming_sessions,
)
from melodist_spark.streaming.stateful import streaming_disaggregate_temperature

__all__ = [
    "streaming_daily_from_hourly",
    "streaming_gap_monitor",
    "streaming_sessions",
    "streaming_disaggregate_temperature",
]
