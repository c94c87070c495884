"""Multiplicative random cascade for precipitation (Olsson 1998).

Reference: `cascade.py` (statistics container), `precipitation.py:74-372`
(disaggregation), `precipitation.py:416-604` (calibration),
`precipitation.py:631-702` (build_casc).

Spark mapping (SURVEY.md §2.8): calibration is windows and
aggregations over each station-season's numbered steps, in the JVM
(:func:`build_casc`). Disaggregation is a grouped-map pandas UDF
partitioned by station — a station's daily series is far below a
task's memory, and stations are embarrassingly parallel. Inside the
kernel the reference's per-box Python loops are replaced by numpy
vectorization over whole levels (every box of a level branches
simultaneously with pre-drawn random arrays). Randomness is seeded per
station (crc32 of the id XOR a user seed) — the reference uses an
unseeded global RNG; we define reproducible behavior.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util.execution import key_schema

#: class boundaries of the weight histogram (`precipitation.py:143`)
WCLASSBOUNDS = np.array([0.0, 0.1429, 0.2857, 0.4286, 0.5714, 0.7143, 0.8571, 1.0])
WUPPER = WCLASSBOUNDS[1:]

#: µs per box at cascade level 11 (`precipitation.py:706`)
LEVEL11_STEP_US = 42_187_500


class BoxTypes:
    """Position of a wet box relative to its neighbours (`cascade.py:29-34`)."""

    dry, starting, enclosed, ending, isolated = range(5)


class CascadeStatistics:
    """Branching statistics of one station(-season): P(0/1), P(1/0),
    P(x/x) per (intensity class, box type) and the 7-bin left-weight
    histogram (`cascade.py:37-153`).
    """

    def __init__(self):
        self.p01 = np.zeros((2, 4))
        self.p10 = np.zeros((2, 4))
        self.pxx = np.zeros((2, 4))
        self.wxx = np.zeros((7, 2, 4))
        self.threshold = np.array([1.67093133, 2.46694444, 3.66730902, 5.39878419, 8.04924471])
        self.percentile = 50

    def fill_with_sample_data(self):
        """Fallback statistics for too-short calibration series
        (`cascade.py:52-109`; values are the published sample dataset's
        parameters, kept verbatim as behavioral parity data).
        """
        self.p01 = np.array(
            [
                [0.576724636119866, 0.238722774405744, 0.166532122130638, 0.393474644666218],
                [0.303345245644811, 0.0490956843857575, 0.0392403031072856, 0.228441890034704],
            ]
        )
        self.p10 = np.array(
            [
                [0.158217002255554, 0.256581140990052, 0.557852226779526, 0.422638238585814],
                [0.0439831163244427, 0.0474928027621488, 0.303675296728195, 0.217512052135178],
            ]
        )
        self.pxx = np.array(
            [
                [0.265058361624580, 0.504696084604205, 0.275615651089836, 0.183887116747968],
                [0.652671638030746, 0.903411512852094, 0.657084400164519, 0.554046057830118],
            ]
        )
        self.wxx = np.array(
            [
                [
                    [0.188389148850583, 0.0806836453984190, 0.0698113025807722, 0.0621499191745602],
                    [0.240993281622128, 0.0831019646519721, 0.0415130545715575, 0.155284541403192],
                ],
                [
                    [0.190128959522795, 0.129220679033862, 0.0932213021787505, 0.193080698516532],
                    [0.196379692358065, 0.108549414860949, 0.0592714297292217, 0.0421945385836429],
                ],
                [
                    [0.163043672107111, 0.152063537378127, 0.102823783410167, 0.0906028835221283],
                    [0.186579466868095, 0.189705690316132, 0.0990207345993082, 0.107831389238912],
                ],
                [
                    [0.197765724699431, 0.220046257566978, 0.177876233348082, 0.261288786454262],
                    [0.123823472714948, 0.220514673922285, 0.102486496386323, 0.101975538893918],
                ],
                [
                    [0.114435243444815, 0.170857634762767, 0.177327072603662, 0.135362730582518],
                    [0.0939211776723413, 0.174291820501902, 0.125275822078525, 0.150842841725936],
                ],
                [
                    [0.0988683809545079, 0.152323481100248, 0.185606883566286, 0.167242856061538],
                    [0.0760275616817939, 0.127275603247149, 0.202466168603738, 0.186580243138018],
                ],
                [
                    [0.0473688704207573, 0.0948047647595988, 0.193333422312280, 0.0902721256884624],
                    [0.0822753470826286, 0.0965608324996108, 0.369966294031327, 0.255290907016382],
                ],
            ]
        )

    def to_dict(self) -> dict:
        return dict(
            p01=self.p01.tolist(),
            p10=self.p10.tolist(),
            pxx=self.pxx.tolist(),
            wxx=self.wxx.tolist(),
            threshold=np.asarray(self.threshold).tolist(),
            percentile=self.percentile,
        )

    def to_row(self) -> dict:
        """The flat :func:`build_casc` row layout: raveled arrays."""
        return dict(
            p01=self.p01.ravel().tolist(),
            p10=self.p10.ravel().tolist(),
            pxx=self.pxx.ravel().tolist(),
            wxx=self.wxx.ravel().tolist(),
            threshold=np.asarray(self.threshold).ravel().tolist(),
            percentile=float(self.percentile),
        )

    @classmethod
    def from_row(cls, r) -> "CascadeStatistics":
        """Inverse of :meth:`to_row`; ``r`` is a dict, Row or struct."""
        s = cls()
        s.p01 = np.array(r["p01"]).reshape(2, 4)
        s.p10 = np.array(r["p10"]).reshape(2, 4)
        s.pxx = np.array(r["pxx"]).reshape(2, 4)
        s.wxx = np.array(r["wxx"]).reshape(7, 2, 4)
        s.threshold = np.array(r["threshold"])
        s.percentile = r["percentile"]
        return s


def _box_types(x: np.ndarray) -> np.ndarray:
    """Vectorized box-type classification (`precipitation.py:474-497`):
    edges treat out-of-range neighbours as dry."""
    wet = x > 0
    prev_wet = np.concatenate(([False], wet[:-1]))
    next_wet = np.concatenate((wet[1:], [False]))
    bt = np.zeros(len(x), dtype=np.int64)
    bt[wet & ~prev_wet & next_wet] = BoxTypes.starting
    bt[wet & prev_wet & next_wet] = BoxTypes.enclosed
    bt[wet & prev_wet & ~next_wet] = BoxTypes.ending
    bt[wet & ~prev_wet & ~next_wet] = BoxTypes.isolated
    return bt


# ---------------------------------------------------------------------------
# Calibration
# ---------------------------------------------------------------------------


def _level_row(lv: str, sample: CascadeStatistics) -> str:
    """SQL struct of one level's statistics (`precipitation.py:536-602`)
    from ``lv`` = (l, cells: its sorted wet-cell counts, n0: the step
    count): ratios when all 8 cells hold a wet box, else the sample
    data; weight 1/7 for an x/x cell without boxes; threshold 0 without
    a wet box."""
    cells = f"{lv}.cells"
    stats = {n: f"transform({cells}, c -> c.{c} / c.nb)" for n, c in
             (("p01", "c01"), ("p10", "c10"), ("pxx", "cxx"))}
    stats["wxx"] = (f"flatten(transform(sequence(0, 6), k -> transform({cells}, "
                    f"c -> IF(c.cxx > 0, c.wc[k] / c.cxx, {1 / 7!r}D))))")
    return (
        f"named_struct('level', {lv}.l, 'cnt', shiftright({lv}.n0, {lv}.l + 1), "
        f"'thr', coalesce(try_element_at({cells}, 1).thr, 0D), " + ", ".join(
            f"'{n}', IF(size({cells}) = 8, {e}, array("
            + ", ".join(f"{v!r}D" for v in getattr(sample, n).ravel()) + "))"
            for n, e in stats.items()
        ) + ")"
    )


def build_casc(
    hourly_df: DataFrame,
    months: list[list[int]] | None = None,
    avg_stats: bool = True,
    percentile: float = 50,
    hourly: bool = True,
    level: int = 9,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    precip_col: str = "precip",
) -> DataFrame:
    """Distributed cascade calibration (`precipitation.py:416-702`) in
    the partitions of one shuffle. Each station-season's steps (null and
    NaN count as dry; a gap needs a null row, see
    ``StationStatistics.calc_precipitation_stats``) are numbered by
    time. Box ``j`` of level ``l`` sits on step ``j·2^(l+1)`` and adds
    the level ``l - 1`` box there to the one ``2^l`` steps on
    (``lead``): the reference's two-term sums, and no box without a
    partner, as numpy's ``len(x) // 2``. ``lag``/``lead`` by one box
    give the box types, an exact ``percentile`` of the wet boxes the
    threshold, one aggregation the branch counts and (wlower, wupper]
    weight bins. 5 levels when ``hourly``, else ``level``.

    Rows hold the :meth:`CascadeStatistics.to_row` arrays, one per
    level, or with ``avg_stats`` one with ``level = -1``: the levels
    weighted by box count, summed in level order
    (`precipitation.py:678-688`). They feed :func:`disagg_prec_cascade`.
    """
    part = [f"`{c}`" for c in (*keys, "season")]
    over = f"OVER (PARTITION BY {', '.join(part)} ORDER BY"
    ordered = f"{over} __rn)"
    # whole-partition frames share the ordered windows' passes
    whole = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    months = months or [list(range(1, 13))]
    seasons = ", ".join(
        f"{m}, array({', '.join(str(i) for i, ms in enumerate(months) if m in ms)})"
        for m in sorted({m for ms in months for m in ms})
    )
    steps = hourly_df.selectExpr(
        *part[:-1], f"`{ts_col}`",
        f"explode(map({seasons})[month(`{ts_col}`)]) AS season",
        f"nanvl(coalesce(double(`{precip_col}`), 0D), 0D) AS __v",
    ).selectExpr(
        *part, "__v",
        f"row_number() {over} `{ts_col}`) - 1 AS __rn",
        f"count(*) {over} `{ts_col}` {whole} AS __n0",
    )
    # level -1 anchors a station-season without any wet box
    boxes, below = ["named_struct('level', -1, 'r1', 0D, 'r2', 0D, 'v', 0D, "
                    "'prev', false, 'next', false, 'thr', 0D)"], "__v"
    for lvl in range(5 if hourly else level):
        half, v = 1 << lvl, f"__v_{lvl}"
        r2 = f"lead({below}, {half}) {ordered}"
        steps = steps.selectExpr(
            "*", f"{r2} AS __r2_{lvl}", f"IF(__rn % {2 * half} = 0, {below} + {r2}, NULL) AS {v}"
        )
        boxes.append(
            f"named_struct('level', {lvl}, 'r1', {below}, 'r2', __r2_{lvl}, 'v', {v}, "
            f"'prev', coalesce(lag({v}, {2 * half}) {ordered} > 0, false), "
            f"'next', coalesce(lead({v}, {2 * half}) {ordered} > 0, false), "
            f"'thr', percentile(IF({v} > 0, {v}, NULL), {percentile / 100.0!r}) {over} __rn {whole})"
        )
        below = v
    wclass = " + ".join(f"int(try_divide(b.r1, b.v) > {u!r}D)" for u in WUPPER[:-1])
    xx = "b.r1 > 0 AND b.r2 > 0"
    bt = BoxTypes
    cell = (f"IF(b.v > b.thr, 4, 0) - 1 + CASE WHEN b.prev AND b.next THEN {bt.enclosed} "
            f"WHEN b.next THEN {bt.starting} WHEN b.prev THEN {bt.ending} ELSE {bt.isolated} END")
    counts = ["count_if(b.r1 = 0 AND b.r2 > 0) AS c01", "count_if(b.r1 > 0 AND b.r2 = 0) AS c10",
              f"count_if({xx}) AS cxx", "count(*) AS nb", "array("
              + ", ".join(f"count_if({xx} AND {wclass} = {k})" for k in range(7)) + ") AS wc"]
    sample = CascadeStatistics()
    sample.fill_with_sample_data()
    levels = (
        steps.selectExpr(*part, "__n0", "__rn", f"array({', '.join(boxes)}) AS __b")
        .filter("__rn % 2 = 0")
        .selectExpr(*part, "__n0", "__rn", "explode(__b) AS b")
        .filter("b.v > 0 OR (b.level = -1 AND __rn = 0)")
        .groupBy(*part, "__n0", F.expr("b.level AS level"), F.expr("b.thr AS thr"), F.expr(f"{cell} AS cell"))
        .agg(*map(F.expr, counts))
        .groupBy(*part, "__n0")
        .agg(F.expr("sort_array(collect_list(struct(level, cell, thr, nb, c01, c10, cxx, wc))) AS __cs"))
        .selectExpr(*part, f"transform(sequence(0, {len(boxes) - 2}), l -> named_struct("
                    "'l', l, 'n0', __n0, 'cells', filter(__cs, c -> c.level = l))) AS __lv")
        .selectExpr(*part, f"transform(__lv, x -> {_level_row('x', sample)}) AS __lv")
    )
    pct = f"{float(percentile)!r}D AS percentile"
    if not avg_stats:
        return levels.selectExpr(*part, "inline(__lv)").selectExpr(
            *part, "level", "p01", "p10", "pxx", "wxx", "array(thr) AS threshold", pct
        )
    total = "double(aggregate(__lv, 0L, (t, s) -> t + s.cnt))"

    def mean(n, k):
        return (f"transform(aggregate(__lv, array_repeat(0D, {k}), (acc, s) -> zip_with(acc, s.{n}, "
                f"(a, x) -> a + x * s.cnt)), a -> IF({total} > 0, a / {total}, double('NaN'))) AS {n}")

    return levels.selectExpr(
        *part, "-1 AS level", *[mean(n, k) for n, k in (("p01", 8), ("p10", 8), ("pxx", 8), ("wxx", 56))],
        "transform(__lv, s -> s.thr) AS threshold", pct,
    )


def _stats_from_rows(rows) -> "CascadeStatistics | list[CascadeStatistics]":
    """Rebuild CascadeStatistics from one station-season's build_casc
    rows: the averaged statistics, or the per-level list."""
    rows = sorted(rows, key=lambda r: r["level"])
    if len(rows) == 1 and rows[0]["level"] == -1:
        return CascadeStatistics.from_row(rows[0])
    return [CascadeStatistics.from_row(r) for r in rows]


def collect_cascade_stats(stats_df: DataFrame, key_col: str = "station_id") -> dict:
    """Collect a ``build_casc`` result into
    ``{(station_id, season): CascadeStatistics | [CascadeStatistics]}``
    for inspection on the driver."""
    by_key: dict = {}
    for r in stats_df.collect():
        by_key.setdefault((r[key_col], r["season"]), []).append(r)
    return {k: _stats_from_rows(rows) for k, rows in by_key.items()}


# ---------------------------------------------------------------------------
# Disaggregation
# ---------------------------------------------------------------------------


def _station_slices(pdf: pd.DataFrame, keys: list[str], order: str):
    """Sort ``pdf`` by (keys, order) and find each station's rows.

    Returns the sorted frame, the key columns as arrays and one
    ``(start, end)`` row range per station. One sort plus numpy
    boundary detection on the FULL key tuple (``keys[0]`` alone would
    merge stations sharing the first component): pandas ``groupby``
    sub-frames per station dominated the kernel wall time on short
    series, where the cascade math itself is ~20% of it.
    """
    pdf = pdf.sort_values([*keys, order], kind="mergesort")
    karrs = [pdf[k].to_numpy() for k in keys]
    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for a in karrs:
        change[1:] |= a[1:] != a[:-1]
    starts = np.flatnonzero(change)
    return pdf, karrs, list(zip(starts, np.r_[starts[1:], n]))


def _grouped(df: DataFrame, keys: list[str], station_buckets: int):
    """What a station-slicing kernel groups by.

    ``0`` groups by ``keys`` unpinned, reusing the input's existing
    station partitioning (a bucketed scan skips its exchange). ``> 0``
    hash-buckets stations into that many groups behind an explicit
    REPARTITION_BY_NUM exchange, which AQE may not coalesce onto one
    task; each group then holds many stations, amortizing the
    per-group Arrow and pandas costs of tiny series. Results are
    per-station, so they do not depend on the choice.
    """
    if station_buckets and station_buckets > 0:
        bucket = F.pmod(F.xxhash64(*keys), F.lit(station_buckets))
        return (
            df.withColumn("__bucket", bucket)
            .repartition(station_buckets, "__bucket")
            .groupBy("__bucket")
        )
    return df.groupBy(*keys)


def _disagg_one_level(
    x: np.ndarray,
    stats: CascadeStatistics,
    wxxcum: np.ndarray,
    meanvol: float,
    rng: np.random.Generator,
) -> np.ndarray:
    """Split every box of one level into two, vectorized
    (`precipitation.py:201-281`): branch choice and weights for all
    boxes of the level are drawn at once.
    """
    n = len(x)
    wet = x > 0
    bt = _box_types(x)
    ba = (x > meanvol).astype(np.int64)
    cell = np.where(wet, ba * 4 + (bt - 1), 0)

    p01v = stats.p01.reshape(8)[cell]
    p10v = stats.p10.reshape(8)[cell]

    rndp = rng.random(n)
    case01 = rndp <= p01v
    case10 = (rndp > p01v) & (rndp <= p01v + p10v)

    rndw = rng.random(n)
    cum = wxxcum.reshape(7, 8)[:, cell]  # (7, n)
    hit = rndw[None, :] <= cum
    k = hit.argmax(axis=0)
    k = np.where(hit.any(axis=0), k, 6)  # numerical guard: fall in last class
    w1 = WCLASSBOUNDS[k + 1] - 1.0 / 14.0  # class centers (`precipitation.py:264`)

    left = np.where(case01, 0.0, np.where(case10, x, w1 * x))
    right = np.where(case01, x, np.where(case10, 0.0, (1.0 - w1) * x))
    left = np.where(wet, left, 0.0)
    right = np.where(wet, right, 0.0)

    out = np.empty(2 * n)
    out[0::2] = left
    out[1::2] = right
    return out


def disagg_cascade_values(
    x: np.ndarray,
    cascade_options,
    hourly: bool = True,
    level: int = 9,
    rng: np.random.Generator | None = None,
) -> np.ndarray:
    """Disaggregate one station's daily values (missing already zeroed).

    Returns hourly values (24/day) or 2**level dyadic boxes per day
    (5-min aggregation is done by the caller). Mirrors
    `precipitation.py:74-311` including the threshold indexing
    (level l uses ``threshold[si]`` after the in-loop decrement).
    """
    if rng is None:
        rng = np.random.default_rng()
    si = 5 if hourly else level

    if isinstance(cascade_options, CascadeStatistics):
        overwrite = False
        stats = cascade_options
        wxxcum = np.cumsum(stats.wxx, axis=0)
    elif isinstance(cascade_options, list):
        if len(cascade_options) != si:
            raise ValueError(f"Cascade statistics list must have {si} elements!")
        overwrite = True
    else:
        raise TypeError("cascade_options has invalid type")

    v = np.asarray(x, dtype=float)
    for _ in range(si if not hourly else 5):
        si -= 1
        if overwrite:
            stats = cascade_options[si]
            wxxcum = np.cumsum(stats.wxx, axis=0)
            meanvol = stats.threshold[0]
        else:
            meanvol = stats.threshold[si]
        v = _disagg_one_level(v, stats, wxxcum, meanvol, rng)

    if hourly:
        # 32×45 min → 96×15 min (÷3) → 24×1 h (`precipitation.py:283-305`)
        q = np.repeat(v, 3) / 3.0
        return q.reshape(-1, 4).sum(axis=1)
    return v


def _station_seed(station_id, seed: int) -> int:
    return (zlib.crc32(str(station_id).encode()) ^ seed) & 0xFFFFFFFF


def disagg_prec_cascade(
    daily: DataFrame,
    cascade_options,
    hourly: bool = True,
    level: int = 9,
    shift: int = 0,
    seed: int = 42,
    keys: list[str] = ("station_id",),
    date_col: str = "date",
    ts_col: str = "ts",
    season: int = 0,
    station_buckets: int = 0,
    emit: str = "steps",
) -> DataFrame:
    """Distributed cascade disaggregation.

    ``cascade_options`` may be:

    - the **DataFrame returned by** :func:`build_casc` — the scale
      path: each station's ``season`` statistics are joined into the
      kernel input as one column, so the driver never materializes the
      fleet's statistics;
    - a single :class:`CascadeStatistics` (or per-level list) applied
      to every station. It is a few hundred doubles and rides in the
      kernel's closure.

    Missing daily values are zeroed before and restored to null after
    (`precipitation.py:96-99`, `313-315`); ``shift`` relabels the
    result by N steps (`precipitation.py:317-319`).

    One grouped-map kernel loops the stations of its group, each
    seeded by its own id, so results are identical for any grouping;
    ``station_buckets`` only sets what it groups by (see
    :func:`_grouped`). Bucketing wins when station series are short (a
    2× win measured at 1500 stations × 30 days).

    ``emit='steps'`` (default) returns (keys..., ts, precip) at hourly
    or 5-minute resolution. ``emit='daily'`` runs the same stochastic
    kernel but aggregates back to daily totals *inside* the grouped
    map, returning (keys..., date, n_steps, precip): the map-side
    partial aggregation a mass-balance audit wants — the full sub-daily
    grid never leaves the kernel, so a 100 TB conservation check ships
    1/24th (1/288th at 5 min) of the rows through Arrow and skips the
    re-aggregation shuffle entirely. A fully-missing day aggregates to
    NaN → null, matching the post-shuffle ``sum`` of the steps path.
    """
    if emit not in ("steps", "daily"):
        raise ValueError(f"emit must be 'steps' or 'daily', got {emit!r}")
    if emit == "daily" and shift != 0:
        # a shifted grid moves mass across day boundaries; daily totals
        # would no longer be the input totals — refuse rather than lie
        raise ValueError("emit='daily' requires shift=0")
    stats_in_col = isinstance(cascade_options, DataFrame)
    if not stats_in_col and not isinstance(cascade_options, (CascadeStatistics, list)):
        raise TypeError(
            "cascade_options must be a build_casc DataFrame, a "
            f"CascadeStatistics or a per-level list, got {type(cascade_options)}"
        )
    # the kernel must not close over a DataFrame (unpicklable)
    fleet_opts = None if stats_in_col else cascade_options
    keys = list(keys)
    out_step_us = 3_600_000_000 if hourly else 300_000_000
    steps_per_day = 24 if hourly else 288
    box_step_us = LEVEL11_STEP_US * (2 ** (11 - level))
    boxes_per_day = 2**level

    if emit == "daily":
        schema = key_schema(daily, keys) + f", {date_col} date, n_steps long, precip double"
    else:
        schema = key_schema(daily, keys) + f", {ts_col} timestamp, precip double"

    def disagg_core(sid, opts, x_raw, dates):
        """One station's date-sorted arrays in, (ts, vals) out."""
        missing = np.isnan(x_raw)
        x = np.nan_to_num(x_raw, nan=0.0)

        rng = np.random.default_rng(_station_seed(sid, seed))
        v = disagg_cascade_values(x, opts, hourly=hourly, level=level, rng=rng)

        n_days = len(x_raw)

        if hourly:
            vals = v
        else:
            # accumulate 2**level dyadic boxes into 5-min bins by their
            # start offset, like resample('5min').sum()
            # (`precipitation.py:307-311`)
            bins = (np.arange(boxes_per_day) * box_step_us) // out_step_us
            day_idx = np.repeat(np.arange(n_days), boxes_per_day)
            flat_bins = day_idx * steps_per_day + np.tile(bins, n_days)
            # bincount(weights=...) over the flat bin ids: same
            # accumulation order as np.add.at (input order per bin) at
            # a fraction of the scatter-add cost
            vals = np.bincount(
                flat_bins, weights=v, minlength=n_days * steps_per_day
            )

        # restore missing days to null (`precipitation.py:313-315`)
        mask = np.repeat(missing, steps_per_day)
        vals = np.where(mask, np.nan, vals)

        if shift != 0:
            shifted = np.full_like(vals, np.nan)
            if shift > 0:
                shifted[shift:] = vals[: len(vals) - shift]
            else:
                shifted[:shift] = vals[-shift:]
            vals = shifted

        if emit == "daily":
            # in-kernel partial aggregation: a missing day is all-NaN →
            # NaN → null, same as summing the steps path post-shuffle
            return None, vals.reshape(n_days, steps_per_day).sum(axis=1)
        offs = (np.arange(steps_per_day) * out_step_us).astype("timedelta64[us]")
        ts = (dates[:, None] + offs[None, :]).ravel()
        return ts, vals

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, karrs, slices = _station_slices(pdf, keys, date_col)
        precip = pdf["precip"].to_numpy(dtype=float)
        date_np = pd.to_datetime(pdf[date_col]).to_numpy().astype("datetime64[us]")
        stats_np = pdf["__stats"].to_numpy() if stats_in_col else None

        key_parts = [[] for _ in keys]
        ts_parts, val_parts = [], []
        for s0, s1 in slices:
            sid = karrs[0][s0] if len(keys) == 1 else tuple(a[s0] for a in karrs)
            opts = _stats_from_rows(stats_np[s0]) if stats_in_col else fleet_opts
            ts, vals = disagg_core(sid, opts, precip[s0:s1], date_np[s0:s1])
            for i, a in enumerate(karrs):
                key_parts[i].append(np.repeat(a[s0], len(vals)))
            ts_parts.append(ts)
            val_parts.append(vals)
        res = {k: np.concatenate(key_parts[i]) for i, k in enumerate(keys)}
        if emit == "daily":
            # stations are contiguous in the sorted frame, so the
            # concatenated per-station day rows line up with pdf's
            res[date_col] = pdf[date_col].to_numpy()
            res["n_steps"] = np.full(len(pdf), steps_per_day, dtype=np.int64)
        else:
            res[ts_col] = np.concatenate(ts_parts)
        res["precip"] = np.concatenate(val_parts)
        return pd.DataFrame(res)

    selected = daily.select(*keys, date_col, "precip")
    if stats_in_col:
        # one struct-array column per station, joined on the same keys
        # the grouped map shuffles on — no driver materialization
        per_station = (
            cascade_options.filter(F.col("season") == F.lit(season))
            .groupBy(*keys)
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "level", "p01", "p10", "pxx", "wxx",
                            "threshold", "percentile",
                        )
                    )
                ).alias("__stats")
            )
        )
        selected = selected.join(per_station, keys)
    return _grouped(selected, keys, station_buckets).applyInPandas(kernel, schema=schema)
