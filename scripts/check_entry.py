"""Local emulation of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark at sf0.01 and its
``oracle_sql()`` mirror on DuckDB, compare row count, column names,
dtypes, and (order-insensitively) values. A query also fails when it
leaves an entry in Spark's CacheManager after its result is collected:
a leaked cache taxes every later action's plan matching for the rest of
the session.

Usage: python scripts/check_entry.py [--sf DIR | --sf SCALE] [q_name ...]

``--sf`` takes a scale directory holding the tables' parquet files, or a
bare scale name such as ``sf0.1``, resolved next to the default
directory.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf) and isinstance(pdf[c].iloc[0], (bytes, bytearray)):
            pdf[c] = pdf[c].map(bytes)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"dtype[{c}] spark={a[c].dtype} duck={b[c].dtype}")
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(av.dtype, np.floating):
                eq = np.allclose(av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True)
            else:
                eq = (pd.isna(av) == pd.isna(bv)).all() and (
                    (av == bv) | pd.isna(av)).all()
            if not eq:
                mism = np.where(~((av == bv) | (pd.isna(av) & pd.isna(bv))))[0][:3] \
                    if not np.issubdtype(av.dtype, np.floating) else \
                    np.where(~np.isclose(av.astype(float), bv.astype(float),
                                         rtol=0, atol=0, equal_nan=True))[0][:3]
                ex = [(i, av[i], bv[i]) for i in mism.tolist()]
                problems.append(f"values[{c}] differ, e.g. {ex}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if not os.path.isdir(args.sf) and os.sep not in args.sf:
        args.sf = os.path.join(os.path.dirname(ap.get_default("sf")), args.sf)
    if not os.path.isfile(os.path.join(args.sf, "region.parquet")):
        ap.error(f"--sf {args.sf}: no region.parquet there; pass a scale "
                 f"directory or a scale name such as sf0.01")

    import __spark_entry__ as E
    from hyperion_crawler_spark.config import get_spark

    spark = get_spark(app="check-entry", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    cache = spark._jsparkSession.sharedState().cacheManager()
    qs, oracles = E.queries(), E.oracle_sql()
    names = args.names or list(qs)
    n_ok = 0
    for name in names:
        try:
            sdf = qs[name](spark, args.sf)
            spark_pdf = sdf.toPandas()
            problems = []
            n_cached = cache.numCachedEntries()
            if n_cached:
                problems.append(f"leaves {n_cached} CacheManager entries")
                spark.catalog.clearCache()   # charge no later query
            if name in oracles:
                problems += compare(name, spark_pdf, con.execute(oracles[name]).df())
            if problems:
                print(f"{name}: FAIL  rows={len(spark_pdf)} cached={n_cached}")
                for p in problems:
                    print(f"    {p}")
            elif name not in oracles:
                print(f"{name}: rows={len(spark_pdf)} cached=0 (rows-only, no oracle)")
                n_ok += 1
            else:
                print(f"{name}: OK    rows={len(spark_pdf)} cached=0")
                n_ok += 1
        except Exception:
            print(f"{name}: ERROR")
            traceback.print_exc(limit=4)
    print(f"\n{n_ok}/{len(names)} ok")
    # smoke entry()
    if not args.names:
        edf = E.entry(spark)
        n = edf.count()
        print(f"entry(): rows={n} schema={[f.name for f in edf.schema.fields]}")
    spark.stop()


if __name__ == "__main__":
    main()
