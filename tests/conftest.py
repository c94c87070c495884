import numpy as np
import pandas as pd
import pytest

from melodist_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="melodist_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def layout_runs(spark):
    """``layout_runs(run, frames)``: ``run`` on every input layout, each
    frame repartitioned to 1, 5 and 64 partitions with AQE on and off;
    each result's rows as sorted reprs."""

    def runs(run, frames):
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        out = []
        try:
            for enabled in ("true", "false"):
                spark.conf.set("spark.sql.adaptive.enabled", enabled)
                out += [sorted(map(repr, run(f.repartition(n)).collect())) for f in frames for n in (1, 5, 64)]
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        return out

    return runs


def _station_frame(station_id: str, seed: int, start="2014-01-01", periods=2 * 8760):
    """Deterministic synthetic hourly met series (FIXTURES.md §1):
    diurnal+seasonal temperature, bursty precipitation with wet spells,
    clear-sky-shaped radiation, humidity anticorrelated with temp."""
    rng = np.random.default_rng(seed)
    ts = pd.date_range(start, periods=periods, freq="h")
    doy = ts.dayofyear.to_numpy()
    hour = ts.hour.to_numpy()

    seasonal = 10 * np.sin(2 * np.pi * (doy - 110) / 365.25)
    diurnal = 5 * np.cos(2 * np.pi * (hour - 14) / 24)
    temp = 283.15 + seasonal + diurnal + rng.normal(0, 1.0, periods)

    # precip: 2-state wet/dry persistence, gamma amounts
    wet = np.zeros(periods, dtype=bool)
    p_wd, p_ww = 0.05, 0.65
    u = rng.random(periods)
    for i in range(1, periods):
        p = p_ww if wet[i - 1] else p_wd
        wet[i] = u[i] < p
    precip = np.where(wet, rng.gamma(0.7, 1.6, periods), 0.0)

    zen = np.cos(2 * np.pi * (hour - 12) / 24)
    day_amp = 1 + 0.6 * np.sin(2 * np.pi * (doy - 80) / 365.25)
    glob = np.maximum(0.0, 800 * zen * day_amp) * (1 - 0.7 * wet)

    hum = np.clip(85 - 1.8 * (temp - 283.15) + rng.normal(0, 4, periods), 5, 100)
    wind = np.maximum(
        0.1, 3 + 1.2 * np.cos(np.pi * (hour - 5) / 12) + rng.gamma(1.2, 0.8, periods)
    )
    ssd = np.where(glob > 50, 60.0 * np.minimum(1, glob / 600), 0.0)

    return pd.DataFrame(
        dict(
            station_id=station_id,
            ts=ts,
            temp=temp,
            precip=precip,
            glob=glob,
            hum=hum,
            wind=wind,
            ssd=ssd,
        )
    )


@pytest.fixture(scope="session")
def met_hourly_pd():
    return pd.concat(
        [
            _station_frame("s1", 1),
            _station_frame("s2", 2),
            _station_frame("s3", 3),
        ],
        ignore_index=True,
    )


@pytest.fixture(scope="session")
def met_hourly(spark, met_hourly_pd):
    df = spark.createDataFrame(met_hourly_pd)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def stations_pd():
    return pd.DataFrame(
        dict(
            station_id=["s1", "s2", "s3"],
            name=["a", "b", "c"],
            lon=[8.86, 11.4, 20.0],
            lat=[51.0, 47.3, 68.5],  # s3 is polar
            timezone=[1.0, 1.0, 1.0],
        )
    )


@pytest.fixture(scope="session")
def stations(spark, stations_pd):
    return spark.createDataFrame(stations_pd)


@pytest.fixture(scope="session")
def met_daily(spark, met_hourly):
    from melodist_spark.operators.aggregations import daily_from_hourly

    df = daily_from_hourly(met_hourly)
    df.cache().count()
    return df
