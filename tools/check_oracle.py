#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same sf dir, compare
row count, schema (column names), and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""
from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(rows, columns) -> str:
    cols = sorted(columns)
    canon = []
    for row in rows:
        d = dict(zip(columns, row))
        canon.append(tuple(repr(_norm(d[c])) for c in cols))
    canon.sort()
    h = hashlib.sha256()
    for r in canon:
        h.update("|".join(r).encode())
    return h.hexdigest()[:16]


def _norm(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, int):
        return v
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from stl_decomp_4j_spark.plans.session import build_session

    spark = build_session(app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_rows = [tuple(r) for r in df.collect()]
            spark_cols = df.columns
        except Exception as e:
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only  rows={len(spark_rows):7d}  ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = rel.columns
            duck_rows = rel.fetchall()
        except Exception as e:
            print(f"{name:28s} DUCK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        ok_rows = len(spark_rows) == len(duck_rows)
        ok_schema = sorted(spark_cols) == sorted(duck_cols)
        h1 = value_hash(spark_rows, spark_cols)
        h2 = value_hash(duck_rows, duck_cols)
        ok = ok_rows and ok_schema and h1 == h2
        status = "OK " if ok else "MISMATCH"
        print(
            f"{name:28s} {status} rows={len(spark_rows)}/{len(duck_rows)} "
            f"schema={'=' if ok_schema else 'DIFF'} hash={'=' if h1==h2 else h1+'!='+h2}  ({time.time()-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)
            if not ok_schema:
                print(f"  spark cols: {spark_cols}\n  duck cols : {duck_cols}")
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
