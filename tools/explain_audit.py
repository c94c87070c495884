"""Physical-plan audit: assert the plans we promised in README.

For key queries, checks that parquet scans prune columns, filters push
down, dimension joins broadcast, and no query regresses to a
cartesian/shuffle join where a broadcast is expected. Prints a
PASS/FAIL line each — run after plan-affecting changes.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _humidity_lindew(spark, sf_dir):
    """The public op behind humidity_variants' 'lindew' branch."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from melodist_spark.operators.humidity import (
        dewpoint_regression,
        disaggregate_humidity,
    )

    params = dewpoint_regression(
        entry._met_hourly(spark, sf_dir), keys=["user_id"]
    ).withColumn("kr", F.lit(12))
    out = disaggregate_humidity(
        entry._met_daily(spark, sf_dir),
        method="linear_dewpoint_variation",
        temp_disagg={"method": "sine_min_max", "min_max_time": "fix"},
        hum_params=params,
        keys=["user_id"],
    )
    return out.select("user_id", "ts", F.round("hum", 6).alias("hum_h"))


def _radiation_ssd(spark, sf_dir):
    """The public op behind radiation_proxy_variants' 'ssd' branch."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from melodist_spark.operators.radiation import disaggregate_radiation

    daily = entry._met_daily(spark, sf_dir).withColumn(
        "ssd", F.col("hum") - F.floor(F.col("hum") / 10.0) * 10.0
    )
    out = disaggregate_radiation(
        daily,
        entry._met_stations(daily),
        method="pot_rad_via_ssd",
        keys=["user_id"],
    )
    return out.select("user_id", "ts", F.round("glob", 6).alias("glob_h"))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from melodist_spark.session import get_spark

    spark = get_spark("explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    # union-row branches are audited through the public op they run
    qs = {
        **entry.queries(),
        "humidity_lindew": _humidity_lindew,
        "radiation_ssd": _radiation_ssd,
    }

    checks = [
        # (query, must-contain regexes, must-NOT-contain regexes)
        (
            "temp_sine_disagg",
            # TIMESTAMP(NANOS) surfaces as bigint (nanosAsLong) or
            # timestamp_ntz depending on Spark's parquet reader path;
            # both are the pruned 3-column scan we assert
            [r"ReadSchema: struct<ts:(bigint|timestamp_ntz),user_id:bigint,value:double>"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            # fused dewpoint humidity: the temperature is computed on
            # the humidity's own calendar explode — NO sort-merge join
            # of two hourly-grain tables may appear
            "humidity_dewpoint",
            [],
            [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            "humidity_lindew",
            [],
            [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            "humidity_variants",
            [],
            [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            "pricing_summary",
            [r"PushedFilters: \[IsNotNull\(l_shipdate\), LessThanOrEqual\(l_shipdate"],
            [],
        ),
        (
            "ann_topk",
            [r"BroadcastNestedLoopJoin|BroadcastHashJoin"],
            [r"CartesianProduct"],
        ),
        (
            "temp_course_variants",
            [r"BroadcastHashJoin"],
            [r"CartesianProduct"],
        ),
        (
            # sun-timed sine: station metadata joins must broadcast and
            # the plan must stay free of cross products
            "temp_sine_variants",
            [r"BroadcastHashJoin"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"SortMergeJoin"],
        ),
        (
            # LSH near-dup: candidate generation is an equi-join on the
            # bucket signature, never an all-pairs product
            "embedding_neardup",
            [r"ArrowEvalPython|BatchEvalPython"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
        (
            # as-of join compiles to union + ONE keyed window — any
            # Join node means Spark fell back to a range join
            "asof_attribution",
            [r"Window"],
            [r"Join", r"CartesianProduct"],
        ),
        (
            # full radiation chain: events scan pruned to the 3 used
            # columns, parameter joins broadcast
            "radiation_ssd",
            # TIMESTAMP(NANOS) surfaces as bigint (nanosAsLong) or
            # timestamp_ntz depending on Spark's parquet reader path;
            # both are the pruned 3-column scan we assert
            [r"ReadSchema: struct<ts:(bigint|timestamp_ntz),user_id:bigint,value:double>"],
            [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        ),
    ]

    failed = []
    for name, must, must_not in checks:
        plan = plan_of(qs[name](spark, sf_dir))
        problems = []
        for pat in must:
            if not re.search(pat, plan):
                problems.append(f"missing /{pat}/")
        for pat in must_not:
            if re.search(pat, plan):
                problems.append(f"unexpected /{pat}/")
        if problems:
            failed.append(name)
            print(f"[FAIL] {name}: " + "; ".join(problems))
        else:
            print(f"[ OK ] {name}")

    print("plan audit:", "FAILED" if failed else "all green")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
