"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count + column names + order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype in ("float64", "float32"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from who_owns_mass_processing_spark.session import get_spark

    spark = get_spark(cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            failures.append((name, f"columns {list(s.columns)} vs {list(o.columns)}"))
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            continue
        if len(s) != len(o):
            failures.append((name, f"rows {len(s)} vs {len(o)}"))
            print(f"FAIL  {name}: rows {len(s)} vs {len(o)}")
            continue
        if not s.equals(o):
            diff_cols = [c for c in s.columns if not s[c].equals(o[c])]
            failures.append((name, f"values differ in {diff_cols}"))
            print(f"FAIL  {name}: values differ in {diff_cols}")
            for c in diff_cols[:2]:
                neq = s[c] != o[c]
                print("   spark:", s.loc[neq, c].head(3).tolist(),
                      " duck:", o.loc[neq, c].head(3).tolist())
            continue
        print(f"OK    {name}: {len(s)} rows")

    print(f"\n{len(failures)} failures" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
