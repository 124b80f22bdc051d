"""Focused op-level re-measurement (guide §1) — NOT the frozen bench.py.

Times individual operators with the exact same call shapes bench.py uses
(same params, same .count()/.collect() terminal) so numbers are directly
comparable, but lets you pick ops and repeat counts:

    python tools/bench_extra.py dedup_components --n 3

Defaults fit the machine it runs on: the scale-factor directory bench.py
reads (``SPARK_GRAFT_SF_DIR``), one Spark core per CPU this process may
use (``SPARK_GRAFT_CPUS``), and a driver heap of a quarter of physical
memory (``SPARK_GRAFT_DRIVER_MEM``).

Prints one JSON line {"op": [samples...]} plus min per op.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _default_driver_mem() -> str:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 4 >> 30)}g"


def main():
    from bench import SF_DIR

    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="*", default=[])
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument(
        "--cpus",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))),
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("bench_extra")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "0")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    embs = spark.read.parquet(f"{args.sf}/embeddings.parquet")

    from cuvs_lucene_spark.functions.textstats import quality_score, repetition_stats
    from cuvs_lucene_spark.operators.dedup import (
        duplicate_components,
        embedding_near_dup,
        minhash_lsh_candidates,
        ngram_contamination,
        simhash,
        simhash_near_dup,
    )
    from cuvs_lucene_spark.operators.sampling import training_mix

    ops = {
        "minhash_lsh": lambda: minhash_lsh_candidates(docs, n_perm=8, bands=2).count(),
        "simhash": lambda: simhash(docs).count(),
        "simhash_near_dup": lambda: simhash_near_dup(docs, max_hamming=3, bands=4).count(),
        "dedup_components": lambda: duplicate_components(
            simhash_near_dup(docs, max_hamming=3, bands=4),
            all_ids=docs.select("doc_id"),
        ).count(),
        "quality": lambda: quality_score(docs).count(),
        "repetition": lambda: repetition_stats(docs, n=2).count(),
        "training_mix": lambda: training_mix(
            docs, {"en": 0.9, "fr": 0.5, "zh": 0.25}, default_rate=0.1
        ).filter("keep").count(),
        "decontaminate": lambda: ngram_contamination(
            train=docs.filter(F.col("doc_id") % 17 != 0),
            evals=docs.filter(F.col("doc_id") % 17 == 0),
            n=5,
        ).count(),
        "embedding_near_dup": lambda: embedding_near_dup(embs, threshold=0.4).count(),
    }
    picked = args.ops or list(ops)
    out: dict[str, list[float]] = {}
    for name in picked:
        fn = ops[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        samples = []
        for _ in range(args.n):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        print(f"{name}: min={min(samples)} samples={samples}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
