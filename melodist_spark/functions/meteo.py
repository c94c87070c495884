"""Elementwise meteorological physics as Catalyst column expressions.

These run inside whole-stage codegen (no Python worker), unlike the
reference's numpy kernels which materialize full intermediate arrays
(`util/util.py:70-134`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

T0 = 273.15


def _col(x) -> Column:
    return x if isinstance(x, Column) else F.lit(float(x))


def vapor_pressure(temp, hum) -> Column:
    """Sonntag (1990) vapor pressure [hPa] from temp [K] and rel. hum [%].

    Branch at 273.15 K (water/ice): `util/util.py:70-102`.
    """
    t, h = _col(temp), _col(hum)
    dt = t - F.lit(T0)
    over_water = F.lit(6.112) * F.exp(F.lit(17.62) * dt / (F.lit(243.12) + dt))
    over_ice = F.lit(6.112) * F.exp(F.lit(22.46) * dt / (F.lit(272.62) + dt))
    return F.when(t >= T0, over_water).otherwise(over_ice) * h / F.lit(100.0)


def dewpoint_temperature(temp, hum) -> Column:
    """Dewpoint temperature [K]; inverse of :func:`vapor_pressure`
    with the same water/ice branch (`util/util.py:105-134`).
    """
    t, h = _col(temp), _col(hum)
    ln_ratio = F.log(vapor_pressure(t, h) / F.lit(6.112))
    water = F.lit(243.12) * ln_ratio / (F.lit(17.62) - ln_ratio)
    ice = F.lit(272.62) * ln_ratio / (F.lit(22.46) - ln_ratio)
    return F.when(t >= T0, water).otherwise(ice) + F.lit(T0)

