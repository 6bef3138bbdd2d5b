"""Local approximation of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values canonicalized).

Usage: python jobs/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col) and isinstance(col.dropna().iloc[0] if len(col.dropna()) else None, bytes):
            df[c] = col.map(lambda b: b.hex() if isinstance(b, bytes) else None)
        elif str(col.dtype).startswith("datetime"):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif col.dtype == float:
            df[c] = col.round(6)
        elif col.dtype == object:
            df[c] = col.map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    return hashlib.sha256(
        canonical(df).to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from parzig_spark.session import get_spark

    spark = get_spark(app_name="oracle_check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        odf = con.execute(oracles[name]).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK   " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        print(
            f"{status}{name}: spark {len(sdf)}x{len(sdf.columns)} vs duckdb {len(odf)}x{len(odf.columns)}"
            f" rows={ok_rows} cols={ok_cols} hash={ok_hash} ({dt:.1f}s)"
        )
        if not (ok_rows and ok_cols and ok_hash):
            failures.append(name)
            a, b = canonical(sdf), canonical(odf)
            if ok_rows and ok_cols:
                neq = (a.fillna("~") != b.fillna("~")).any(axis=1)
                print("  first diffs (spark vs duckdb):")
                print(pd.concat([a[neq].head(3), b[neq].head(3)], keys=["spark", "duckdb"]))
            else:
                print("  spark cols:", list(sdf.columns))
                print("  duckdb cols:", list(odf.columns))
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
