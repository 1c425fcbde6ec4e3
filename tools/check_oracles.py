"""Local stand-in for the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet, compare row count +
column names + order-insensitive values.
Usage: python tools/check_oracles.py [sf_dir] [name1,name2,...]
(the optional second arg restricts the run to those queries — fast local iteration)
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

# the checkout this script belongs to, ahead of any installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from lingvo_spark_kg.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(4)
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, only: set[str] | None = None) -> int:
    # golden oracles (read_parquet tables) must be built for the SAME sf as the
    # spark queries; the driver compares at sf0.01 (the env default)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        qs = {n: f for n, f in qs.items() if n in only}
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL-SPARK] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            if len(sdf) == 0 and name != "media_meta_resized":
                print(f"             WARNING: 0 rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL-ORACLE] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            print(f"[FAIL-SCHEMA] {name}: spark={list(a.columns)} duck={list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"[FAIL-COUNT ] {name}: spark={len(a)} duck={len(b)}")
            failures += 1
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_cols = [c for c in a.columns if neq[c].any()]
            print(f"[FAIL-VALUES] {name}: {len(a)} rows, mismatch cols={bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"              {c}[{idx}]: spark={a[c][idx]!r} duck={b[c][idx]!r}")
            failures += 1
            continue
        print(f"[OK         ] {name}: {len(a)} rows match")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
                  set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None))
