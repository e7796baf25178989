"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "b":
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from taxahfe_spark.session import get_spark

    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            failures += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}")
            failures += 1
            continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
            failures += 1
            continue
        eq = g.equals(e)
        if not eq:
            # tolerate float noise below round-trip epsilon
            bad_cols = []
            for c in g.columns:
                if g[c].dtype.kind == "f":
                    a, b = g[c].to_numpy(), e[c].to_numpy()
                    both_nan = pd.isna(a) & pd.isna(b)
                    close = both_nan | (abs(a - b) <= 1e-6)
                    if not close.all():
                        bad_cols.append(c)
                elif not g[c].equals(e[c]):
                    bad_cols.append(c)
            if bad_cols:
                print(f"FAIL  {name}: value mismatch in {bad_cols}")
                for c in bad_cols[:2]:
                    m = g[c] != e[c]
                    print("   spark:", g[m].head(3).to_dict("records"))
                    print("   duck :", e[m].head(3).to_dict("records"))
                failures += 1
                continue
        print(f"OK    {name}: {len(g)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main())
