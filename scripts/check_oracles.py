"""Replicates the driver's correctness gate locally: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row-count + schema-sorted value multiset.

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import pathlib
import sys

# the checkout this script lives in, wherever it is
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from tdr_draft_metadata_validator_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append((name, f"spark error: {exc}"))
            print(f"[FAIL-SPARK] {name}: {exc}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:
            failures.append((name, f"duckdb error: {exc}"))
            print(f"[FAIL-ORACLE] {name}: {exc}")
            continue
        a, b = canon(sdf), canon(odf)
        if len(a) != len(b):
            failures.append((name, f"rowcount {len(a)} vs {len(b)}"))
            print(f"[MISMATCH-ROWS] {name}: spark={len(a)} duckdb={len(b)}")
            continue
        if list(a.columns) != list(b.columns):
            failures.append((name, f"cols {list(a.columns)} vs {list(b.columns)}"))
            print(f"[MISMATCH-COLS] {name}: {list(a.columns)} vs {list(b.columns)}")
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            failures.append((name, f"{int(neq.sum())} differing rows"))
            print(f"[MISMATCH-VALUES] {name}: {int(neq.sum())} rows differ")
            print("  spark:", a[neq].head(3).to_dict("records"))
            print("  duck :", b[neq].head(3).to_dict("records"))
            continue
        print(f"[OK] {name}: {len(a)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [f[0] for f in failures])
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
