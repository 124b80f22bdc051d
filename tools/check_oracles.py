"""Replicates the driver's correctness gate locally: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin via
DuckDB on the same parquet dir, compare row count, sorted column names,
and an order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [only_query_substr] [--flush driver|spark]

``--flush driver`` (the default) runs every query as it runs by default:
the dedup, text-statistics and training-mix stages and the small writes
run in the driver below ``segments.DRIVER_FLUSH_MAX_DOCS``. ``--flush
spark`` sets that bound to 0 in-process, so they run their Spark tier.
"""

from __future__ import annotations

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
    flush = "driver"
    if "--flush" in sys.argv:
        i = sys.argv.index("--flush")
        flush = sys.argv[i + 1]
        del sys.argv[i:i + 2]
    if flush not in ("driver", "spark"):
        raise SystemExit(f"unknown flush {flush!r}; expected driver or spark")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from cuvs_lucene_spark.operators import segments

    if flush == "spark":
        segments.DRIVER_FLUSH_MAX_DOCS = 0

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
