"""Replicates the driver's correctness gate locally: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin via
DuckDB on the same parquet dir, compare row count, sorted column names,
and an order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [only_query_substr] [--flush driver|spark]

``--flush driver`` (the default) runs every query as it runs by default:
the dedup, text-statistics and training-mix stages and the small writes
run in the driver below ``segments.DRIVER_FLUSH_MAX_DOCS``, and the BM25
and ANN queries on the resident tier. ``--flush spark`` sets that bound
and the resident budgets (``resident.RESIDENT_MAX_BYTES``,
``resident.TEXT_RESIDENT_MAX_BYTES``) to 0 in-process, so the writes and
the queries run their Spark tier.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def main():
    ap = argparse.ArgumentParser(
        description="Run every __spark_entry__ query and compare it with its DuckDB oracle.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001",
                    help="parquet dir of the tables (default: %(default)s)")
    ap.add_argument("only", nargs="?", default="",
                    help="run only the queries whose name contains this")
    ap.add_argument("--flush", choices=("driver", "spark"), default="driver",
                    help="driver: default bounds; spark: the write bound and the "
                         "resident budgets set to 0 (default: %(default)s)")
    args = ap.parse_args()
    sf_dir, only = args.sf_dir, args.only
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from cuvs_lucene_spark.operators import resident, segments

    if args.flush == "spark":
        segments.DRIVER_FLUSH_MAX_DOCS = 0
        resident.RESIDENT_MAX_BYTES = 0
        resident.TEXT_RESIDENT_MAX_BYTES = 0

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = E.queries(), E.oracle_sql()
    fails = 0
    for name, fn in qs.items():
        if only and only not in name:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL {name}: engine error {type(ex).__name__}: {str(ex)[:200]}")
            fails += 1
            continue
        if name not in os_:
            print(f"ok?  {name}: rows={len(rows)} (rows-only, no oracle)")
            continue
        try:
            res = con.sql(os_[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: oracle error {str(ex)[:200]}")
            fails += 1
            continue
        ok_n = len(rows) == len(orows)
        ok_c = sorted(c.lower() for c in cols) == sorted(c.lower() for c in ocols)
        ok_h = value_hash(rows, cols) == value_hash(orows, ocols)
        status = "PASS" if (ok_n and ok_c and ok_h) else "FAIL"
        if status == "FAIL":
            fails += 1
        print(
            f"{status} {name}: rows {len(rows)}/{len(orows)} cols={ok_c} hash={ok_h} ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL" and ok_c:
            es = sorted(rows)[:3]
            xs = sorted(orows)[:3]
            print(f"   engine: {es}")
            print(f"   oracle: {xs}")
    print("ALL PASS" if fails == 0 else f"{fails} FAILURES")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
