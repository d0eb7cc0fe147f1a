"""Local replica of the driver's correctness gate: run every
queries() entry at a given SF, run its oracle_sql() twin in DuckDB on
the same parquet, compare row count + schema-ordered sorted values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWS {len(spark_pdf)} vs {len(duck_pdf)}"
    s = spark_pdf[sorted(spark_pdf.columns)].copy()
    d = duck_pdf[sorted(duck_pdf.columns)].copy()
    if list(s.columns) != list(d.columns):
        return f"COLS {list(s.columns)} vs {list(d.columns)}"
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    d = d.sort_values(list(d.columns)).reset_index(drop=True)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(dv.dtype, np.floating):
            if not np.allclose(sv.astype(float), dv.astype(float), rtol=0, atol=1e-9, equal_nan=True):
                bad = np.flatnonzero(~np.isclose(sv.astype(float), dv.astype(float), rtol=0, atol=1e-9))
                return f"VAL col={c} n_bad={len(bad)} e.g. {sv.iloc[bad[0]]} vs {dv.iloc[bad[0]]}"
        else:
            if not (sv.astype(str) == dv.astype(str)).all():
                bad = np.flatnonzero((sv.astype(str) != dv.astype(str)).to_numpy())
                return f"VAL col={c} n_bad={len(bad)} e.g. {sv.iloc[bad[0]]!r} vs {dv.iloc[bad[0]]!r}"
    return "OK"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from gfp_gdal_spark.session import get_spark

    spark = get_spark(cores=len(os.sched_getaffinity(0)))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"{name:24s} SPARK-ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(spdf)} rows, schema={list(spdf.columns)}")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:24s} DUCK-ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        verdict = compare(name, spdf, dpdf)
        print(f"{name:24s} {verdict}   ({len(spdf)} rows)")
        if verdict != "OK":
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
