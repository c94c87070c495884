"""Multiplicative random cascade for precipitation (Olsson 1998).

Reference: `cascade.py` (statistics container), `precipitation.py:74-372`
(disaggregation), `precipitation.py:416-604` (calibration),
`precipitation.py:631-702` (build_casc).

Spark mapping (SURVEY.md §2.8): calibration is windows and
aggregations over each station-season's numbered steps
(:func:`build_casc`). Disaggregation is one row per station-day holding
the day's boxes: every box of a level splits at once in one
``transform``, and only neighbouring boxes couple, which ``lag``/``lead``
over the station's days express (:func:`disagg_prec_cascade`). Both run
in the JVM. Each draw is a counter-based uniform keyed by station, seed,
day, level and box (`util/rng.py`) — the reference uses an unseeded
global RNG; we define reproducible behavior.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util.calendar import LEVEL11_STEP_US
from ..util.rng import counter_key, digest_uniform

#: class boundaries of the weight histogram (`precipitation.py:143`)
WCLASSBOUNDS = np.array([0.0, 0.1429, 0.2857, 0.4286, 0.5714, 0.7143, 0.8571, 1.0])
WUPPER = WCLASSBOUNDS[1:]


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

#: left-half weight of each weight class: its center (`precipitation.py:264`)
W_LEFT = (WCLASSBOUNDS[1:] - 1.0 / 14.0).tolist()


def _double(x: float) -> str:
    return f"double('{x}')" if not np.isfinite(x) else f"{float(x)!r}D"


def _stats_literal(opts) -> str:
    """Fleet-wide statistics as a SQL literal in :func:`build_casc`'s row
    layout: one ``level = -1`` struct, or one struct per level."""
    rows = [(-1, opts)] if isinstance(opts, CascadeStatistics) else list(enumerate(opts))
    return "array(" + ", ".join(
        f"named_struct('level', {lvl}, " + ", ".join(
            f"'{n}', array({', '.join(map(_double, s.to_row()[n]))})"
            for n in ("p01", "p10", "wxx", "threshold")
        ) + ")"
        for lvl, s in rows
    ) + ")"


def _split(t: int, n_levels: int) -> str:
    """SQL of split ``t`` (`precipitation.py:201-281`): every box of
    ``__v`` (``2^t`` per day) becomes two, with the statistics of
    cascade level ``si = n_levels - 1 - t`` (the reference counts down):
    the averaged row with ``threshold[si]``, or row ``si`` with its
    ``threshold[0]``.

    A box's type comes from its neighbours, the previous day's last box
    (``__p``) and the next day's first (``__n``) at the edges; its
    branch and weight draws are digits 1-15 and 16-30 of one md5 keyed
    by (``__k``, t, box), taken for wet boxes only. The weight class is
    the first whose cumulative weight reaches the draw, counted over the
    non-decreasing running sums.
    """
    si = n_levels - 1 - t
    avg = "__stats[0].level = -1"
    r = f"IF({avg}, __stats[0], __stats[{si}])"
    thr = f"IF({avg}, __stats[0].threshold[{si}], __stats[{si}].threshold[0])"
    wet = "coalesce({} > 0, false)"
    prev, nxt = wet.format("IF(i = 0, __p, __v[i - 1])"), wet.format(f"IF(i = {(1 << t) - 1}, __n, __v[i + 1])")
    bt = BoxTypes
    # cell = intensity * 4 + box type - 1, the type indexed by (prev, next) wetness
    types = ", ".join(str(b - 1) for b in (bt.isolated, bt.starting, bt.ending, bt.enclosed))
    cell = f"IF(x > {thr}, 4, 0) + array({types})[2 * int({prev}) + int({nxt})]"
    draws = (f"transform(__v, (x, i) -> IF(x > 0, named_struct('h', md5({counter_key('__k', t, 'i')}), "
             f"'c', {cell}), NULL))")
    u1, u2 = digest_uniform("d.h", 1), digest_uniform("d.h", 16)
    w = f"{r}.wxx[j * 8 + d.c]"
    k = (f"aggregate(sequence(0, 5), named_struct('k', 0, 'c', 0D), (s, j) -> named_struct("
         f"'k', s.k + int({u2} > s.c + {w}), 'c', s.c + {w}), s -> s.k)")
    frac = (f"transform({draws}, d -> CASE WHEN d IS NULL THEN NULL "
            f"WHEN {u1} <= {r}.p01[d.c] THEN 0D WHEN {u1} <= {r}.p01[d.c] + {r}.p10[d.c] THEN 1D "
            f"ELSE array({', '.join(map(_double, W_LEFT))})[{k}] END)")
    return f"flatten(transform({frac}, (f, i) -> array(coalesce(f * __v[i], 0D), coalesce((1D - f) * __v[i], 0D))))"


def _regrid(hourly: bool, level: int) -> str:
    """SQL of the day's steps from its final boxes ``__v``: 32 × 45 min
    → 96 × 15 min (÷3) → 24 × 1 h (`precipitation.py:283-305`), or the
    ``2^level`` boxes summed into 288 5-min bins by their start offset,
    like ``resample('5min').sum()`` (`precipitation.py:307-311`).

    The boxes are bound once as the lambda variable ``v``: referenced
    once inside a lambda, ``__v`` would let the optimizer inline the
    last split into the lambda body and evaluate it once per step."""
    if hourly:
        steps = "transform(sequence(0, 23), h -> aggregate(sequence(0, 3), 0D, (a, q) -> a + v[(4 * h + q) div 3] / 3D))"
    else:
        bins = np.arange(2**level) * (LEVEL11_STEP_US << (11 - level)) // 300_000_000
        lo = f"array({', '.join(map(str, np.searchsorted(bins, np.arange(289))))})"
        steps = (f"transform(sequence(0, 287), b -> aggregate(slice(v, {lo}[b] + 1, "
                 f"{lo}[b + 1] - {lo}[b]), 0D, (a, x) -> a + x))")
    return f"transform(array(__v), v -> {steps})[0]"


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
    emit: str = "steps",
) -> DataFrame:
    """Distributed cascade disaggregation, one row per station-day.

    ``cascade_options`` may be:

    - the **DataFrame returned by** :func:`build_casc` — the scale
      path: each station's ``season`` statistics are joined in per
      station, so the driver never materializes the fleet's statistics;
    - a single :class:`CascadeStatistics` (or per-level list) applied
      to every station, as a SQL literal.

    Each row holds the day's boxes; each split (5 when ``hourly``,
    else ``level``) is one window step over ``PARTITION BY keys ORDER
    BY date`` — the adjacent rows' edge boxes give the box types — and
    one :func:`_split`, so one exchange and one sort serve every split.
    Draws are keyed by (keys, seed, unix_date(date), split, box)
    (`util/rng.py`): no partitioning, retry or cluster size changes
    them, and extending a record changes only its two edge days.

    Missing daily values are zeroed before and restored to null after
    (`precipitation.py:96-99`, `313-315`); ``shift`` relabels the
    result by N steps (`precipitation.py:317-319`).

    ``emit='steps'`` (default) returns (keys..., ts, precip) at hourly
    or 5-minute resolution. ``emit='daily'`` sums each day's steps in
    its own row, returning (keys..., date, n_steps, precip): the
    sub-daily grid is never exploded, which is what a mass-balance
    audit wants. A missing day sums to null.
    """
    if emit not in ("steps", "daily"):
        raise ValueError(f"emit must be 'steps' or 'daily', got {emit!r}")
    if emit == "daily" and shift != 0:
        # a shifted grid moves mass across day boundaries; daily totals
        # would no longer be the input totals — refuse rather than lie
        raise ValueError("emit='daily' requires shift=0")
    n_levels = 5 if hourly else level
    if isinstance(cascade_options, list) and len(cascade_options) != n_levels:
        raise ValueError(f"Cascade statistics list must have {n_levels} elements!")
    if not isinstance(cascade_options, (DataFrame, CascadeStatistics, list)):
        raise TypeError(
            "cascade_options must be a build_casc DataFrame, a "
            f"CascadeStatistics or a per-level list, got {type(cascade_options)}"
        )
    keys = list(keys)
    qk = [f"`{k}`" for k in keys]
    date = f"`{date_col}`"
    steps = 24 if hourly else 288
    rows = daily.selectExpr(
        *qk, date,
        "precip IS NULL OR isnan(precip) AS __miss",
        "array(nanvl(coalesce(double(precip), 0D), 0D)) AS __v",
        f"{counter_key(*qk, seed, f'unix_date({date})')} AS __k",
    )
    if isinstance(cascade_options, DataFrame):
        stats = (
            cascade_options.filter(F.col("season") == F.lit(season))
            .groupBy(*keys)
            .agg(F.expr("sort_array(collect_list(struct(level, p01, p10, wxx, threshold))) AS __stats"))
        )
        rows = rows.join(stats, keys)
    else:
        rows = rows.selectExpr("*", f"{_stats_literal(cascade_options)} AS __stats")

    over = f"OVER (PARTITION BY {', '.join(qk)} ORDER BY {date})"
    carry = [*qk, date, "__miss", "__k", "__stats"]
    for t in range(n_levels):
        rows = rows.selectExpr(
            *carry, "__v", f"lag(element_at(__v, -1)) {over} AS __p", f"lead(element_at(__v, 1)) {over} AS __n"
        ).selectExpr(*carry, f"{_split(t, n_levels)} AS __v")

    vals = _regrid(hourly, level)
    if emit == "daily":
        return rows.selectExpr(
            *qk, date, f"{steps}L AS n_steps",
            f"IF(__miss, NULL, aggregate({vals}, 0D, (a, x) -> a + x)) AS precip",
        )
    step_us = 86_400_000_000 // steps
    out = rows.selectExpr(*qk, date, "__miss", f"posexplode({vals}) AS (__i, __x)").selectExpr(
        *qk, f"timestamp_micros(unix_micros(to_timestamp({date})) + __i * {step_us}L) AS `{ts_col}`",
        "IF(__miss, NULL, __x) AS precip",
    )
    if shift:
        fn = "lag" if shift > 0 else "lead"
        out = out.selectExpr(
            *qk, f"`{ts_col}`",
            f"{fn}(precip, {abs(shift)}) OVER (PARTITION BY {', '.join(qk)} ORDER BY `{ts_col}`) AS precip",
        )
    return out
