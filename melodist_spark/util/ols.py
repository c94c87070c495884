"""Least squares for the linear calibration fits: one grouped JVM
aggregation per fit, no Python worker."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _det(m: list[list[str]]) -> str:
    """Determinant of a small square matrix of SQL terms, by cofactor
    expansion along the first row; 2×2 gives ``m00 * (m11) - m01 * (m10)``."""
    if len(m) == 1:
        return m[0][0]
    out = ""
    for j, head in enumerate(m[0]):
        term = f"{head} * ({_det([row[:j] + row[j + 1:] for row in m[1:]])})"
        out = term if j == 0 else f"{out} {'-' if j % 2 else '+'} {term}"
    return out


def normal_equations_fit(
    df: DataFrame, keys: list[str], y: str, xs: list[str], names: list[str]
) -> DataFrame:
    """Per-group OLS of the SQL expression ``y`` on the SQL expressions
    ``xs`` (no implicit intercept): one ``groupBy(keys)`` sums the upper
    triangle of X'X and X'y, Cramer's rule solves the k×k system. A group
    with X'y = 0 gets coefficients 0, lstsq's minimum-norm answer; one
    with det(X'X) ≤ 1e-12·Π diag(X'X) gets nulls (the ratio lies in
    [0, 1]: collinear columns leave ~1e-16, three adjacent wind hours of
    24 ~3e-4). Returns (keys..., names...). All SQL text: from Column
    operators a 3×3 fit took ~1,200 py4j commands to build, as text ~70.
    """
    k = len(xs)
    sums = [f"sum(__x{i} * __x{j}) AS __xx{i}_{j}" for i in range(k) for j in range(i, k)]
    sums += [f"sum(__x{i} * __y) AS __xy{i}" for i in range(k)]
    agg = (
        df.selectExpr(*keys, f"{y} AS __y", *[f"{x} AS __x{i}" for i, x in enumerate(xs)])
        .groupBy(*keys)
        .agg(*map(F.expr, sums))
    )
    xtx = [[f"__xx{min(i, j)}_{max(i, j)}" for j in range(k)] for i in range(k)]
    xty = [f"__xy{i}" for i in range(k)]
    det = _det(xtx)
    no_signal = " AND ".join(f"{b} = 0" for b in xty)
    diag = " * ".join(xtx[i][i] for i in range(k))
    return agg.selectExpr(*keys, *[
        f"CASE WHEN {no_signal} THEN 0D WHEN {det} <= 1e-12 * {diag} THEN NULL"
        f" ELSE try_divide({_det([row[:i] + [b] + row[i + 1:] for row, b in zip(xtx, xty)])},"
        f" {det}) END AS {name}"
        for i, name in enumerate(names)
    ])


def linregress_agg(x: str, y: str) -> list[Column]:
    """scipy.stats.linregress (`util/util.py:137-157`) as aggregates:
    ``a1 = cov(x,y)/var(x)``, ``a0 = mean(y) - a1*mean(x)``, aliased
    ``a1``/``a0``; null when x is constant. Centred moments, the dewpoint
    oracle's own idiom, avoid the cancellation raw sums suffer at
    tmin ≈ 270 K ± 10 K."""
    slope = F.try_divide(F.covar_samp(x, y), F.var_samp(x))
    return [slope.alias("a1"), (F.avg(y) - slope * F.avg(x)).alias("a0")]
