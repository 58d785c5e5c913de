"""Self-check harness mimicking the driver's t2 correctness gate:
run each queries()[name] on Spark and oracle_sql()[name] on DuckDB over
the same sf dir; compare row count, column names, and order-insensitive
values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package too, and they find it
# only through PYTHONPATH, which the session passes on when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df):
    """Name-sorted columns, row-sorted, stringified cell grid."""
    import pandas as pd

    df = df[sorted(df.columns)]

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "item"):  # numpy scalars
            v = v.item()
            if isinstance(v, float):
                return repr(v)
        return str(v)

    grid = [tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    grid.sort()
    return grid


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import __spark_entry__ as E
    from platypus_ingestion_plugins_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    names = only or list(qs)
    passed = failed = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: SPARK ERROR {type(exc).__name__}: {str(exc)[:300]}")
            failed += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL {name}: ORACLE ERROR {type(exc).__name__}: {str(exc)[:300]}")
            failed += 1
            continue
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            print(f"FAIL {name}: columns spark={s_cols} oracle={o_cols}")
            failed += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
            failed += 1
            continue
        sg, og = canon(sdf), canon(odf)
        if sg == og:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            passed += 1
        else:
            diffs = [(a, b) for a, b in zip(sg, og) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            failed += 1
    print(f"\n{passed} passed, {failed} failed, {len(names)} total")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
