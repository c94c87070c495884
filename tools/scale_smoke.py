"""Scale smoke: N stations × 1 year of hourly observations generated
DISTRIBUTED (no driver-side pandas), then the full calibrate +
disaggregate pipeline. This validates the partitioning story the
100 TB design depends on: generation, aggregation, windows, explodes
and the cascade all scale with stations.

Usage: python tools/scale_smoke.py [n_stations] (default 2000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from melodist_spark.session import get_spark


def main():
    n_stations = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    spark = get_spark("scale_smoke", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    t_all = time.perf_counter()

    # -- distributed synthetic observations -------------------------------
    stations = spark.range(n_stations).select(
        F.concat(F.lit("st"), F.col("id")).alias("station_id"),
        (F.lit(5.0) + F.pmod(F.col("id").cast("double"), 20)).alias("lon"),
        (F.lit(40.0) + F.pmod(F.col("id").cast("double"), 30)).alias("lat"),
        F.lit(1.0).alias("timezone"),
    )
    hours = spark.range(8760).select(
        F.timestamp_micros(
            F.lit(1577836800_000_000) + F.col("id") * 3_600_000_000
        ).alias("ts")
    )
    obs = (
        stations.crossJoin(hours)
        .withColumn("doy", F.dayofyear("ts").cast("double"))
        .withColumn("hod", F.hour("ts").cast("double"))
        .withColumn("u", F.rand(7))
        .withColumn(
            "temp",
            283.15
            + 10 * F.sin(2 * 3.14159 * (F.col("doy") - 110) / 365.25)
            + 5 * F.cos(2 * 3.14159 * (F.col("hod") - 14) / 24)
            + 2 * F.col("u"),
        )
        .withColumn("precip", F.when(F.col("u") < 0.25, F.col("u") * 8).otherwise(0.0))
        .withColumn("hum", F.least(F.lit(100.0), 85 - 1.5 * (F.col("temp") - 283.15) + 5 * F.col("u")))
        .withColumn("wind", 3 + 1.2 * F.cos(3.14159 * (F.col("hod") - 5) / 12) + F.col("u"))
        .withColumn("glob", F.greatest(F.lit(0.0), 800 * F.cos(2 * 3.14159 * (F.col("hod") - 12) / 24)))
        .select("station_id", "ts", "temp", "precip", "hum", "wind", "glob")
    )
    obs = obs.repartition(64, "station_id").cache()
    n_rows = obs.count()
    t_gen = time.perf_counter()

    import melodist_spark as ms

    daily = ms.daily_from_hourly(obs).cache()
    n_daily = daily.count()
    t_daily = time.perf_counter()

    temp_h = ms.disaggregate_temperature(
        daily, "sine_min_max", min_max_time="sun_loc", stations=stations
    )
    temp_h.write.format("noop").mode("overwrite").save()
    t_temp = time.perf_counter()

    # the build_casc DataFrame feeds the disaggregation through a stats
    # join; cached here only so calibration is timed on its own
    stats = ms.build_casc(obs).cache()
    stats.count()
    t_calib = time.perf_counter()

    precip_h = ms.disagg_prec_cascade(daily, stats, seed=1)
    precip_h.write.format("noop").mode("overwrite").save()
    t_casc = time.perf_counter()

    hum_h = ms.disaggregate_humidity(daily, "equal")
    hum_h.write.format("noop").mode("overwrite").save()
    t_hum = time.perf_counter()

    print(
        {
            "n_stations": n_stations,
            "hourly_rows": n_rows,
            "daily_rows": n_daily,
            "gen_s": round(t_gen - t_all, 1),
            "daily_agg_s": round(t_daily - t_gen, 1),
            "temp_disagg_s": round(t_temp - t_daily, 1),
            "cascade_calib_s": round(t_calib - t_temp, 1),
            "cascade_disagg_s": round(t_casc - t_calib, 1),
            "humidity_s": round(t_hum - t_casc, 1),
            "total_s": round(t_hum - t_all, 1),
            "hourly_rows_per_s_total": int(n_rows / (t_hum - t_all)),
        }
    )


if __name__ == "__main__":
    main()
