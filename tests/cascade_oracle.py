"""Numpy oracle of the cascade calibration (`precipitation.py:416-702`).

``build_casc`` computes these statistics as Spark aggregations; the
tests compare its rows with this per-series implementation.
"""

from __future__ import annotations

import numpy as np

from melodist_spark.operators.cascade import WUPPER, CascadeStatistics, _box_types


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
