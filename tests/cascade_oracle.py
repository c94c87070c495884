"""Numpy oracle of the cascade (`precipitation.py:74-702`).

``build_casc`` computes the calibration statistics as Spark
aggregations and ``disagg_prec_cascade`` the disaggregation as window
steps over station-days; the tests compare both with these per-series
implementations. The disaggregation oracle takes its uniforms from
:func:`cascade_uniforms`, which rebuilds the engine's md5-keyed draws
with ``hashlib``.
"""

from __future__ import annotations

import hashlib

import numpy as np

from melodist_spark.operators.cascade import (
    WCLASSBOUNDS,
    WUPPER,
    BoxTypes,
    CascadeStatistics,
    LEVEL11_STEP_US,
)


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


def aggregate_precipitation_values(
    x: np.ndarray, percentile: float = 50
) -> tuple[CascadeStatistics, np.ndarray]:
    """One dyadic aggregation step with branching statistics.

    Vectorized equivalent of `precipitation.py:416-604`: pair adjacent
    steps, classify the upper-level boxes, count branch types and the
    left-weight histogram, normalize to probabilities, and fall back to
    sample statistics when the series is too short.
    Returns (stats, paired_values).
    """
    stats = CascadeStatistics()
    stats.percentile = percentile

    n = len(x) // 2
    r1 = x[0 : 2 * n : 2].astype(float)
    r2 = x[1 : 2 * n : 2].astype(float)
    v = r1 + r2

    wet = v > 0
    if not wet.any():
        stats.fill_with_sample_data()
        stats.threshold = np.array([0.0])
        return stats, v

    meanvol = np.percentile(v[wet], percentile)
    stats.threshold = np.array([meanvol])

    bt = _box_types(v)
    ba = (v > meanvol).astype(np.int64)
    cell = ba * 4 + (bt - 1)  # flat (intensity, boxtype) cell, wet only

    nb = np.bincount(cell[wet], minlength=8).astype(float).reshape(2, 4)

    m01 = wet & (r1 == 0) & (r2 > 0)
    m10 = wet & (r1 > 0) & (r2 == 0)
    mxx = wet & (r1 > 0) & (r2 > 0)

    c01 = np.bincount(cell[m01], minlength=8).astype(float).reshape(2, 4)
    c10 = np.bincount(cell[m10], minlength=8).astype(float).reshape(2, 4)
    cxx = np.bincount(cell[mxx], minlength=8).astype(float).reshape(2, 4)

    w = r1[mxx] / (r1[mxx] + r2[mxx])
    # bins are (wlower, wupper] (`precipitation.py:549-551`)
    k = np.searchsorted(WUPPER, w, side="left")
    k = np.clip(k, 0, 6)
    wxx_counts = np.zeros((7, 8))
    np.add.at(wxx_counts, (k, cell[mxx]), 1.0)
    wxx_counts = wxx_counts.reshape(7, 2, 4)

    with np.errstate(divide="ignore", invalid="ignore"):
        stats.p01 = c01 / nb
        stats.p10 = c10 / nb
        stats.pxx = cxx / nb
        stats.wxx = wxx_counts / cxx[None, :, :]

    if (
        np.isnan(stats.p01).any()
        or np.isnan(stats.p10).any()
        or np.isnan(stats.pxx).any()
    ):
        # too-sparse series → published sample statistics
        # (`precipitation.py:566-579`)
        thr = stats.threshold
        stats.fill_with_sample_data()
        stats.threshold = thr
    elif np.isnan(stats.wxx).any():
        # undefined weight bins → uniform 1/7 (`precipitation.py:584-602`)
        stats.wxx = np.where(np.isnan(stats.wxx), 1.0 / 7.0, stats.wxx)

    return stats, v


def _weighted_stats(stats_list, counts) -> CascadeStatistics:
    """Level-weighted average (`precipitation.py:678-688`)."""
    out = CascadeStatistics()
    total = float(sum(counts))
    out.p01 = sum(s.p01 * c for s, c in zip(stats_list, counts)) / total
    out.p10 = sum(s.p10 * c for s, c in zip(stats_list, counts)) / total
    out.pxx = sum(s.pxx * c for s, c in zip(stats_list, counts)) / total
    out.wxx = sum(s.wxx * c for s, c in zip(stats_list, counts)) / total
    return out


def build_casc_values(
    x: np.ndarray,
    hourly: bool = True,
    level: int = 9,
    percentile: float = 50,
) -> tuple[CascadeStatistics, list[CascadeStatistics]]:
    """Run the full calibration for one station-season value series.

    Returns (averaged_stats, per_level_stats) — the reference's
    ``avg_stats`` flag simply chooses which of the two to use
    (`precipitation.py:631-702`).
    """
    aggre_level = 5 if hourly else level
    x = np.nan_to_num(np.asarray(x, dtype=float), nan=0.0)

    per_level: list[CascadeStatistics] = []
    counts: list[int] = []
    thresholds = np.zeros(aggre_level)
    v = x
    for i in range(aggre_level):
        stats_i, v = aggregate_precipitation_values(v, percentile)
        thresholds[i] = stats_i.threshold[0]
        per_level.append(stats_i)
        counts.append(len(v))

    avg = _weighted_stats(per_level, counts)
    avg.threshold = thresholds
    avg.percentile = percentile
    return avg, per_level


def _disagg_one_level(
    x: np.ndarray,
    stats: CascadeStatistics,
    wxxcum: np.ndarray,
    meanvol: float,
    uniforms: tuple[np.ndarray, np.ndarray],
) -> np.ndarray:
    """Split every box of one level into two, vectorized
    (`precipitation.py:201-281`): ``uniforms`` holds the branch and
    weight draws of every box of the level.
    """
    n = len(x)
    wet = x > 0
    bt = _box_types(x)
    ba = (x > meanvol).astype(np.int64)
    cell = np.where(wet, ba * 4 + (bt - 1), 0)

    p01v = stats.p01.reshape(8)[cell]
    p10v = stats.p10.reshape(8)[cell]

    rndp, rndw = uniforms
    case01 = rndp <= p01v
    case10 = (rndp > p01v) & (rndp <= p01v + p10v)

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
    uniforms=None,
) -> np.ndarray:
    """Disaggregate one station's daily values (missing already zeroed).

    Returns hourly values (24/day) or 2**level dyadic boxes per day
    (5-min aggregation is done by the caller). Mirrors
    `precipitation.py:74-311` including the threshold indexing
    (level l uses ``threshold[si]`` after the in-loop decrement).
    ``uniforms(t)`` gives split ``t``'s (branch, weight) draws.
    """
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
    for t in range(si if not hourly else 5):
        si -= 1
        if overwrite:
            stats = cascade_options[si]
            wxxcum = np.cumsum(stats.wxx, axis=0)
            meanvol = stats.threshold[0]
        else:
            meanvol = stats.threshold[si]
        v = _disagg_one_level(v, stats, wxxcum, meanvol, uniforms(t))

    if hourly:
        # 32×45 min → 96×15 min (÷3) → 24×1 h (`precipitation.py:283-305`)
        q = np.repeat(v, 3) / 3.0
        return q.reshape(-1, 4).sum(axis=1)
    return v


def cascade_uniforms(station: tuple, seed: int, unix_days):
    """The engine's draws for one station's days, from ``hashlib``:
    box ``i`` of split ``t`` on day ``d`` hashes
    ``station… ␟ seed ␟ d ␟ t ␟ i`` (␟ = U+001F); hex digits 1-15 give
    the branch draw and 16-30 the weight draw, each / 16^15."""
    prefix = ["\x1f".join(map(str, (*station, seed, d))) for d in unix_days]

    def uniforms(t):
        hexes = [
            hashlib.md5(f"{p}\x1f{t}\x1f{i}".encode()).hexdigest()
            for p in prefix for i in range(2**t)
        ]
        return tuple(
            np.array([int(h[a:a + 15], 16) / 16.0**15 for h in hexes]) for a in (0, 15)
        )

    return uniforms


def disagg_station(
    x_raw: np.ndarray,
    cascade_options,
    uniforms,
    hourly: bool = True,
    level: int = 9,
    shift: int = 0,
    emit: str = "steps",
) -> np.ndarray:
    """One station's date-sorted daily values in, its steps (or daily
    sums with ``emit='daily'``) out, NaN where the engine gives null:
    missing days zeroed then restored, 5-min binning, ``shift``."""
    missing = np.isnan(x_raw)
    x = np.nan_to_num(x_raw, nan=0.0)
    v = disagg_cascade_values(x, cascade_options, hourly=hourly, level=level, uniforms=uniforms)
    n_days = len(x_raw)
    steps_per_day = 24 if hourly else 288
    if hourly:
        vals = v
    else:
        # 2**level dyadic boxes into 5-min bins by their start offset
        # (`precipitation.py:307-311`)
        boxes_per_day = 2**level
        bins = (np.arange(boxes_per_day) * LEVEL11_STEP_US * 2 ** (11 - level)) // 300_000_000
        day_idx = np.repeat(np.arange(n_days), boxes_per_day)
        flat_bins = day_idx * steps_per_day + np.tile(bins, n_days)
        vals = np.bincount(flat_bins, weights=v, minlength=n_days * steps_per_day)
    vals = np.where(np.repeat(missing, steps_per_day), np.nan, vals)
    if shift != 0:
        shifted = np.full_like(vals, np.nan)
        if shift > 0:
            shifted[shift:] = vals[: len(vals) - shift]
        else:
            shifted[:shift] = vals[-shift:]
        vals = shifted
    if emit == "daily":
        return vals.reshape(n_days, steps_per_day).sum(axis=1)
    return vals
