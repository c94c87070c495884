"""Local mirror of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet tables, compare row count, column names, and
order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].values, b[c].values
            if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
                eq = np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9, equal_nan=True)
            else:
                eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(
                    f"values differ in col {c}: first at sorted row {i}: spark={av[i]!r} duck={bv[i]!r} ({(~eq).sum()} rows)"
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from melodist_spark.session import get_spark

    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a name outside the registry would otherwise check nothing
        # and still print "all green"
        print(f"[FAIL] not in queries(): {sorted(unknown)}")
        sys.exit(2)
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"[FAIL] {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"[....] {name}: no oracle (rows={len(spark_pdf)})")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failed.append(name)
            print(f"[FAIL] {name}: duckdb error: {e}")
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failed.append(name)
            print(f"[FAIL] {name}: " + "; ".join(problems))
        else:
            print(f"[ OK ] {name} ({len(spark_pdf)} rows)")

    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall green")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
