"""Dump .explain("formatted") for registry queries to plans/<tag>/.

Usage: python tools/dump_plans.py <suffix> [query ...]

Writes plans/$SPARK_GRAFT_PLAN_DIR/<query>_<suffix>.txt (default
r14) for every named query (default: all registry queries). The
optimization judge reads these files to check plan claims (Exchange
counts, join strategies, PushedFilters, BatchEvalPython absence)
without running Spark. Expression ids (``#1234``, ``#1234L``) are
written as ``#``: they differ between sessions, so two dumps of the
same plan diff clean.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return re.sub(r"#\d+L?", "#", text)


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry
    from melodist_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    names = sys.argv[2:] or list(qs)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_DIR", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            text = plan_of(df)
        except Exception as exc:  # keep going; record the failure
            text = f"ERROR building {name}: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")


if __name__ == "__main__":
    main()
