"""Local driver-mimic: run every queries() entry against its oracle_sql()
via DuckDB at a given sf dir; compare row count, column names and
order-insensitive values. Usage: python tools/check_oracles.py [sf_dir] [names...]"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from kgforge.session import build_session

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(app="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(ex)[:300]}")
            continue
        a, b = norm(sdf), norm(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            continue
        eq = a.equals(b)
        if not eq:
            diff_mask = (a != b).any(axis=1)
            nd = int(diff_mask.sum())
            failures.append(name)
            print(f"FAIL {name}: {nd}/{len(a)} differing rows")
            print("  spark :", a[diff_mask].head(3).to_dict("records"))
            print("  oracle:", b[diff_mask].head(3).to_dict("records"))
        else:
            print(f"OK   {name}: {len(a)} rows")
    print("\nRESULT:", "ALL OK" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
