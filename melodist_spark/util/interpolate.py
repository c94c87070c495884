"""Positional interpolation: linear over windows, cubic via a kernel.

Replaces ``Series.interpolate(method=..., limit=..)`` used by the
reference for polar-night stitching (`temperature.py:239`) and the
generic ``Station.interpolate`` scaffold (`station.py:403-437`).

- 'linear' is positional (equally spaced, index ignored), so the Spark
  equivalent works on ``row_number`` distances within each station
  partition — two one-pass window frames, no Python worker.
- 'cubic'/'spline'/'cubicspline' need the whole per-station series at
  once (a spline's coefficients couple every knot), so they run as an
  Arrow-batched ``applyInPandas`` kernel — one group per station, the
  same partitioning the window path uses, no extra shuffle beyond the
  per-station grouping. The spline itself is a scipy-free numpy
  not-a-knot natural extension (the boundary scipy's ``CubicSpline``
  uses by default); this container has no scipy, so exactness is
  guaranteed by construction (a not-a-knot spline through >=4 samples
  of any cubic polynomial reproduces it identically — see tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interpolate_linear(
    df: DataFrame,
    value_col: str,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    limit: int | None = None,
    limit_direction: str = "forward",
    out_col: str | None = None,
) -> DataFrame:
    """Fill nulls in ``value_col`` by positional linear interpolation.

    Semantics match ``pd.Series.interpolate(method='linear', limit=limit,
    limit_direction=limit_direction)``:

    - interior gaps: straight line between neighbouring valid values
    - trailing nulls: padded with last valid value (forward/both)
    - leading nulls: padded with first valid value only for 'both'
    - ``limit``: at most this many consecutive nulls are filled,
      counted from the valid value in fill direction
    """
    if limit_direction not in ("forward", "both", "backward"):
        raise ValueError(
            "limit_direction must be 'forward', 'both' or 'backward', "
            f"got {limit_direction!r}"
        )
    keys = list(keys)
    out_col = out_col or value_col

    pos_w = Window.partitionBy(*keys).orderBy(ts_col)
    prev_w = pos_w.rowsBetween(Window.unboundedPreceding, 0)
    next_w = pos_w.rowsBetween(0, Window.unboundedFollowing)

    v = F.col(value_col)
    pos = F.row_number().over(pos_w)
    df = df.withColumn("__pos", pos)
    valid_pos = F.when(v.isNotNull(), F.col("__pos"))

    prev_val = F.last(v, ignorenulls=True).over(prev_w)
    prev_pos = F.last(valid_pos, ignorenulls=True).over(prev_w)
    next_val = F.first(v, ignorenulls=True).over(next_w)
    next_pos = F.first(valid_pos, ignorenulls=True).over(next_w)

    df = (
        df.withColumn("__pv", prev_val)
        .withColumn("__pp", prev_pos)
        .withColumn("__nv", next_val)
        .withColumn("__np", next_pos)
    )

    frac = (F.col("__pos") - F.col("__pp")) / (F.col("__np") - F.col("__pp"))
    between = F.col("__pv") + frac * (F.col("__nv") - F.col("__pv"))

    dist_fwd = F.col("__pos") - F.col("__pp")  # nulls since last valid
    dist_bwd = F.col("__np") - F.col("__pos")

    fwd_ok = F.lit(True) if limit is None else dist_fwd <= limit
    bwd_ok = F.lit(True) if limit is None else dist_bwd <= limit

    if limit_direction == "forward":
        allowed = F.col("__pp").isNotNull() & fwd_ok
    elif limit_direction == "backward":
        allowed = F.col("__np").isNotNull() & bwd_ok
    else:  # both
        allowed = (F.col("__pp").isNotNull() & fwd_ok) | (
            F.col("__np").isNotNull() & bwd_ok
        )

    filled = (
        F.when(v.isNotNull(), v)
        .when(
            ~allowed, F.lit(None).cast("double")
        )
        .when(F.col("__pp").isNotNull() & F.col("__np").isNotNull(), between)
        .when(F.col("__pp").isNotNull(), F.col("__pv"))  # trailing pad
        .when(F.col("__np").isNotNull(), F.col("__nv"))  # leading pad (both)
    )

    return df.withColumn(out_col, filled).drop(
        "__pos", "__pv", "__pp", "__nv", "__np"
    )


def _notaknot_moments(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Second derivatives M_i of the not-a-knot cubic spline (n >= 4).

    Interior continuity rows are the classic tridiagonal system
    ``h_{i-1} M_{i-1} + 2(h_{i-1}+h_i) M_i + h_i M_{i+1} = d_i``; the
    not-a-knot conditions (continuous third derivative at the second
    and second-to-last knots) eliminate M_0 and M_{n-1} by
    substitution, leaving a strictly tridiagonal system in M_1..M_{n-2}
    solved by the Thomas algorithm.
    """
    n = x.size
    h = np.diff(x)
    d = 6.0 * np.diff(np.diff(y) / h) / 1.0  # rhs d_i, i = 1..n-2

    m = n - 2  # unknowns M_1..M_{n-2}
    lower = np.empty(m)
    diag = np.empty(m)
    upper = np.empty(m)
    lower[1:] = h[1:-1]
    upper[:-1] = h[1:-1]
    diag[:] = 2.0 * (h[:-1] + h[1:])

    # left not-a-knot: M_0 = (1 + h0/h1) M_1 - (h0/h1) M_2
    r0 = h[0] / h[1]
    diag[0] = h[0] * (1.0 + r0) + 2.0 * (h[0] + h[1])
    if m > 1:
        upper[0] = h[1] - h[0] * r0
    # right not-a-knot: M_{n-1} = (1 + h_{n-2}/h_{n-3}) M_{n-2}
    #                             - (h_{n-2}/h_{n-3}) M_{n-3}
    r1 = h[-1] / h[-2]
    diag[-1] = h[-1] * (1.0 + r1) + 2.0 * (h[-2] + h[-1])
    if m > 1:
        lower[-1] = h[-2] - h[-1] * r1

    # Thomas sweep
    cp = np.empty(m)
    dp = np.empty(m)
    cp[0] = upper[0] / diag[0] if m > 1 else 0.0
    dp[0] = d[0] / diag[0]
    for i in range(1, m):
        denom = diag[i] - lower[i] * cp[i - 1]
        cp[i] = (upper[i] / denom) if i < m - 1 else 0.0
        dp[i] = (d[i] - lower[i] * dp[i - 1]) / denom
    mm = np.empty(m)
    mm[-1] = dp[-1]
    for i in range(m - 2, -1, -1):
        mm[i] = dp[i] - cp[i] * mm[i + 1]

    M = np.empty(n)
    M[1:-1] = mm
    M[0] = (1.0 + r0) * M[1] - r0 * M[2]
    M[-1] = (1.0 + r1) * M[-2] - r1 * M[-3]
    return M


def _spline_fill(y: np.ndarray) -> np.ndarray:
    """Fill interior NaN runs of ``y`` by positional cubic spline.

    Knots are the valid samples at their integer positions. Fewer than
    4 knots degrade gracefully (2 → linear chord, 3 → the unique
    parabola); leading/trailing NaNs are left untouched (no
    extrapolation outside the observed span).
    """
    out = y.astype(float).copy()
    valid = ~np.isnan(out)
    n_valid = int(valid.sum())
    if n_valid < 2:
        return out
    xk = np.flatnonzero(valid).astype(float)
    yk = out[valid]
    lo, hi = int(xk[0]), int(xk[-1])
    hole = np.flatnonzero(~valid)
    hole = hole[(hole > lo) & (hole < hi)]
    if hole.size == 0:
        return out
    xq = hole.astype(float)

    if n_valid == 2:
        out[hole] = yk[0] + (yk[1] - yk[0]) * (xq - xk[0]) / (xk[1] - xk[0])
        return out
    if n_valid == 3:
        # unique parabola (Lagrange)
        l0 = (xq - xk[1]) * (xq - xk[2]) / ((xk[0] - xk[1]) * (xk[0] - xk[2]))
        l1 = (xq - xk[0]) * (xq - xk[2]) / ((xk[1] - xk[0]) * (xk[1] - xk[2]))
        l2 = (xq - xk[0]) * (xq - xk[1]) / ((xk[2] - xk[0]) * (xk[2] - xk[1]))
        out[hole] = yk[0] * l0 + yk[1] * l1 + yk[2] * l2
        return out

    M = _notaknot_moments(xk, yk)
    h = np.diff(xk)
    seg = np.searchsorted(xk, xq, side="right") - 1
    x0, x1 = xk[seg], xk[seg + 1]
    hs = h[seg]
    a = (x1 - xq) / hs
    b = (xq - x0) / hs
    out[hole] = (
        M[seg] * (x1 - xq) ** 3 / (6.0 * hs)
        + M[seg + 1] * (xq - x0) ** 3 / (6.0 * hs)
        + (yk[seg] - M[seg] * hs * hs / 6.0) * a
        + (yk[seg + 1] - M[seg + 1] * hs * hs / 6.0) * b
    )
    return out


def interpolate_spline(
    df: DataFrame,
    value_col: str,
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
    method: str = "cubic",
    out_col: str | None = None,
) -> DataFrame:
    """Fill interior nulls of ``value_col`` by positional cubic spline.

    The distributed analogue of the reference's pandas passthrough
    ``Station.interpolate(..., method='cubic')`` (`station.py:403-437`)
    for the non-linear methods: one ``applyInPandas`` group per
    station (the series' spline coefficients couple all its knots, so
    per-station locality is inherent, and it is exactly the
    partitioning every other per-station operator uses). 'cubic',
    'spline' and 'cubicspline' all map to the not-a-knot cubic spline
    — the boundary condition scipy's ``CubicSpline`` defaults to; this
    container has no scipy, so the kernel is pure numpy (Thomas-solved
    tridiagonal system). Unlike pandas, positions past the last valid
    sample are NOT extrapolated (documented deviation — spline
    extrapolation is numerically explosive and never meaningful for
    met series).

    The input is repartitioned by ``keys`` into
    ``spark.sql.shuffle.partitions`` so AQE cannot coalesce a small
    fleet onto one task in front of the spline kernel.
    """
    if method not in ("cubic", "spline", "cubicspline"):
        raise NotImplementedError(
            f"interpolate_spline supports the cubic family, got {method!r}; "
            "use interpolate_linear for 'linear'"
        )
    keys = list(keys)
    out_col = out_col or value_col

    out_schema = df.schema
    if out_col not in df.columns:
        from pyspark.sql.types import DoubleType, StructField, StructType

        out_schema = StructType(
            list(df.schema.fields) + [StructField(out_col, DoubleType())]
        )
    names = [f.name for f in out_schema.fields]
    vcol, ocol, tcol = value_col, out_col, ts_col

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(tcol, kind="mergesort")
        pdf[ocol] = _spline_fill(pdf[vcol].to_numpy(dtype=float))
        return pdf[names]

    # an explicit count is a REPARTITION_BY_NUM exchange, which AQE cannot
    # coalesce onto one task in front of this compute-bound kernel
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys).groupBy(*keys).applyInPandas(fill, schema=out_schema)
