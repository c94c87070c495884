"""Custom stateful streaming operator: incremental daily→hourly
temperature disaggregation.

The batch sine kernel (`operators/temperature.py`, reference
`temperature.py:127-137`) needs the NEXT day's tmin (evening branch)
and the PREVIOUS day's tmax (pre-dawn branch) — a lead/lag window in
batch. On an unbounded stream of daily observations that window
becomes per-station state: each day is buffered until its successor
arrives, then emitted as one row carrying its neighbour extremes.
``applyInPandasWithState`` keeps the state per station on the
shuffle-partitioned executors, so a fleet of millions of stations
holds ~5 doubles each — no driver involvement, no global sort. The
day rows then expand to hours through the batch calendar and sine
builders, so the formula has one implementation.

Semantics match ``disaggregate_temperature(method='sine_min_max',
min_max_time='fix')`` exactly:

- consecutive next day        → evening hours blend toward its tmin
- gap after the buffered day  → evening values null (batch lead guard)
- first day ever seen         → pre-dawn falls back to its own tmax
  (batch ``is_first`` fill)
- stream end / idle station   → the buffered tail day is emitted on
  timeout with the batch ``is_last`` fallback (next tmin := own
  tmin); preferred is the event-time flush (``flush_after``), which
  fires when the WATERMARK passes the buffered day — deterministic
  across replays — with wall-clock ``idle_flush`` as the legacy
  alternative
"""

from __future__ import annotations

import datetime
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DateType, DoubleType, IntegerType, StructField, StructType

from melodist_spark.operators.temperature import sine_min_max_temp, transition_vals
from melodist_spark.util.calendar import hourly_calendar

MIN_LOC_FIX = 7
MAX_LOC_FIX = 14

_EPOCH = datetime.date(1970, 1, 1)
_DAY_COLS = ["date", "min_val_cur", "max_val_cur", "max_val_before", "min_val_next"]


def _emit(
    key: Tuple[Any, ...],
    keys: list[str],
    pend: Tuple[int, float, float, float],
    tmin_next: float,
) -> dict:
    """The day row of the buffered day ``pend`` once its next-day tmin
    is known: the neighbour extremes the batch window would give it."""
    day, tmin_cur, tmax_cur, tmax_before = pend
    vals = (_EPOCH + datetime.timedelta(days=day), tmin_cur, tmax_cur, tmax_before, tmin_next)
    return {**dict(zip(keys, key)), **dict(zip(_DAY_COLS, vals))}


def _hourly(days: DataFrame, keys: list[str]) -> DataFrame:
    """24 hourly rows per day row: the batch sine_min_max builders with
    the fixed 7 h / 14 h extremes."""
    hourly = hourly_calendar(days).withColumn("hour", F.hour("ts"))
    hour, min_loc, max_loc = F.col("hour"), F.lit(MIN_LOC_FIX), F.lit(MAX_LOC_FIX)
    minv, maxv = transition_vals(hour, min_loc, max_loc)
    temp = sine_min_max_temp(minv, maxv, hour, max_loc)
    return hourly.select(*keys, "ts", temp.alias("temp"))


def streaming_disaggregate_temperature(
    daily_stream: DataFrame,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    idle_flush: str | None = None,
    flush_after: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Daily (keys..., date, tmin, tmax) stream → hourly temp stream.

    One shuffle (the groupBy hash partitioning); state is a 4-field
    tuple per station. Two ways to flush a station's buffered tail day
    with the batch last-row fallback (next tmin := own tmin):

    - ``flush_after`` (PREFERRED, event-time): the buffered day is
      emitted once the stream's watermark passes that day's end plus
      this horizon (e.g. ``"2 days"``). Keyed to data, not wall-clock:
      deterministic across replays and lag spikes, and a station with
      a genuine gap flushes as soon as the rest of the fleet's data
      proves the successor day isn't coming. Requires an event-time
      watermark; one is derived from ``date_col`` with
      ``watermark_delay`` allowance for late daily rows.
    - ``idle_flush`` (processing-time): wall-clock timeout. WARNING:
      any value shorter than a station's real inter-arrival time
      changes results for EVERY day, not just the stream end — a
      flushed day uses the is_last fallback and resets state, so the
      following day is treated as first-ever-seen. Only set it well
      above the worst-case gap between consecutive records; prefer
      ``flush_after``.

    Default (both ``None``): the tail day stays buffered until its
    successor arrives.

    Rows must arrive in non-decreasing date order per station
    (micro-batch file ordering is mtime-based, not guaranteed):
    late or duplicate days — ``date`` at or before the buffered
    day — are dropped rather than corrupting state.
    """
    if idle_flush is not None and flush_after is not None:
        raise ValueError("set at most one of idle_flush / flush_after")
    keys = list(keys)
    key_fields = [daily_stream.schema[k] for k in keys]
    day_schema = StructType(
        [*key_fields, StructField("date", DateType())]
        + [StructField(c, DoubleType()) for c in _DAY_COLS[1:]]
    )
    # (pend_day epoch-days, pend_tmin, pend_tmax, pend_tmax_before)
    state_schema = StructType(
        [StructField("pend_day", IntegerType()),
         StructField("pend_tmin", DoubleType()),
         StructField("pend_tmax", DoubleType()),
         StructField("pend_tmax_before", DoubleType())]
    )
    flush_ms = _duration_ms(idle_flush) if idle_flush is not None else None
    horizon_ms = _duration_ms(flush_after) if flush_after is not None else None
    _DAY_MS = 86_400_000

    def frame(day_rows: list[dict]) -> pd.DataFrame:
        return pd.DataFrame(day_rows, columns=[*keys, *_DAY_COLS])

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            if state.exists:
                pend = state.get
                # batch is_last fallback: next tmin := own tmin
                yield frame([_emit(key, keys, pend, pend[1])])
            state.remove()
            return

        def arm_or_flush(pend):
            """Arm the timeout for ``pend``, or — when the watermark has
            ALREADY passed the flush deadline — emit the buffered day
            right now and clear state, returning the emission.

            Arming a passed timestamp is not an option twice over:
            setTimeoutTimestamp throws on it, and the earlier clamp to
            watermark+1 only fired if the watermark advanced *again* —
            a lagging station at the end of a stream (or an
            availableNow run's last batch) would never flush even
            though the watermark already proves its successor day
            cannot arrive. Flushing inline is the semantically due
            action, not a workaround.
            """
            if flush_ms is not None:
                state.setTimeoutDuration(flush_ms)
                return None
            if horizon_ms is None or pend is None:
                return None
            deadline = (pend[0] + 1) * _DAY_MS + horizon_ms
            if deadline <= state.getCurrentWatermarkMs():
                out = _emit(key, keys, pend, pend[1])
                state.remove()
                return out
            state.setTimeoutTimestamp(deadline)
            return None

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            em = arm_or_flush(state.get if state.exists else None)
            if em is not None:
                yield frame([em])
            return
        rows = pd.concat(chunks, ignore_index=True)
        rows = rows.sort_values(date_col)
        days = (
            pd.to_datetime(rows[date_col]).values.astype("datetime64[D]")
            .astype("int64")
        )
        tmins = rows["tmin"].to_numpy(dtype=float)
        tmaxs = rows["tmax"].to_numpy(dtype=float)

        pend = state.get if state.exists else None
        outs = []
        for day, tmin, tmax in zip(days, tmins, tmaxs):
            day = int(day)
            if pend is not None:
                if day <= pend[0]:
                    # late/duplicate day: ignore rather than regress state
                    continue
                consecutive = day == pend[0] + 1
                # gap → batch lead-guard: evening half has no next tmin
                outs.append(
                    _emit(key, keys, pend, tmin if consecutive else np.nan)
                )
                tmax_before = pend[2] if consecutive else np.nan
            else:
                # first day ever seen: batch is_first fill (own tmax)
                tmax_before = tmax
            pend = (day, float(tmin), float(tmax), float(tmax_before))
        state.update(pend)
        em = arm_or_flush(pend)
        if em is not None:
            outs.append(em)
        if outs:
            yield frame(outs)

    if flush_ms is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    elif horizon_ms is not None:
        timeout = GroupStateTimeout.EventTimeTimeout
        # event-time timeouts need a watermark; derive one from the
        # daily date column
        daily_stream = daily_stream.withColumn(
            "__evt", F.col(date_col).cast("timestamp")
        ).withWatermark("__evt", watermark_delay)
    else:
        timeout = GroupStateTimeout.NoTimeout
    days = daily_stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=day_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
    return _hourly(days, keys)


_UNIT_MS = {
    "ms": 1, "millisecond": 1, "milli": 1,
    "s": 1000, "sec": 1000, "second": 1000,
    "m": 60_000, "min": 60_000, "minute": 60_000,
    "h": 3_600_000, "hr": 3_600_000, "hour": 3_600_000,
    "d": 86_400_000, "day": 86_400_000,
}


def _duration_ms(s: str) -> int:
    """Parse '30 seconds' / '5 min' / '90s' → milliseconds.

    Mirrors the common subset of Spark's CalendarInterval durations;
    raises a descriptive ValueError on anything it can't parse so a
    misconfigured idle_flush fails at call time, not mid-stream.
    """
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+)\s*", s or "")
    if m:
        n, unit = int(m.group(1)), m.group(2).lower()
        if unit not in _UNIT_MS:  # plural → singular ('seconds' → 'second')
            unit = unit.rstrip("s") or "s"
        if unit in _UNIT_MS:
            return n * _UNIT_MS[unit]
    raise ValueError(
        f"cannot parse duration {s!r}; expected '<N> <unit>' with unit one "
        f"of ms/seconds/minutes/hours/days, e.g. '30 seconds' or '5 min'"
    )
