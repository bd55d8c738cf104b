"""Replicate the driver's correctness gate locally.

Runs every __spark_entry__.queries() entry at sf0.01 and compares against
oracle_sql() in DuckDB: row count, column-name set, and order-insensitive
values (columns sorted by name, rows sorted by all columns). Exits nonzero
on any mismatch.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# this checkout's package, the one its Spark workers import
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    from datasketches_rust_spark.plans.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16, app_name="correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    only = set(sys.argv[1:])
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: query raised {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows, cols={sorted(got.columns)}")
            if len(got) == 0 and name != "noop":
                print(f"  WARNING: {name} returned 0 rows")
            continue
        exp = con.sql(oracles[name]).df()
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"[FAIL] {name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"[FAIL] {name}: rows {len(g)} vs {len(e)}")
            continue
        if not g.equals(e):
            neq = ~(g.eq(e) | (g.isna() & e.isna()))
            bad_cols = [c for c in g.columns if neq[c].any()]
            failures.append(name)
            print(f"[FAIL] {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                i = int(neq[c].idxmax())
                print(f"  first diff col={c} row={i}: spark={g[c][i]!r} oracle={e[c][i]!r}")
            continue
        print(f"[OK]   {name}: {len(g)} rows match")

    spark.stop()
    if failures:
        print(f"\nFAILED: {failures}")
        return 1
    print("\nALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
