"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else "")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def columns_match(a: pd.Series, b: pd.Series) -> bool:
    """Do two normalized columns agree cell for cell? Numbers must be within
    1e-9 and carry the same sign bit, so -0.0 and 0.0 differ as they do in a
    hash of the values (NaN matches NaN whatever its sign); other cells
    compare by their string form."""
    if np.issubdtype(a.dtype, np.number) and np.issubdtype(b.dtype, np.number):
        av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
        both_nan = np.isnan(av) & np.isnan(bv)
        return bool(
            np.allclose(av, bv, rtol=0, atol=1e-9, equal_nan=True)
            and ((np.signbit(av) == np.signbit(bv)) | both_nan).all()
        )
    return bool((a.astype(str) == b.astype(str)).all())


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from kgforge.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle — rows-only check)")
            if len(sdf) == 0:
                print(f"      WARNING {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: row count {len(a)} vs {len(b)}")
            continue
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        diff_cols = [c for c in a.columns if not columns_match(a[c], b[c])]
        if diff_cols:
            failures.append(name)
            print(f"FAIL  {name}: value mismatch in {diff_cols}")
            for c in diff_cols[:2]:
                mask = ~(a[c].astype(str) == b[c].astype(str))
                print(a[mask].head(3))
                print(b[mask].head(3))
        else:
            print(f"OK    {name}: {len(a)} rows")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries pass")


if __name__ == "__main__":
    main()
