"""Capture .explain('formatted') plans into plans/r06/<name>_<tag>.txt:
the dataset-only operators (no index needed), and the ANN single-query
modes (``ann_*``) over a small generated index built in a temp dir.

Usage: python tools/capture_plans.py <before|after> [op ...]
An op argument ``ann`` selects every ``ann_*`` plan.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def ann_plans(spark, root: str) -> dict:
    """The ANN search modes over 301 8-d vectors in segments of 150/150/1
    (the last segment has no IVF index and takes the B2 fallback)."""
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.operators import ann as A
    from cuvs_lucene_spark.operators import ann_graph as AG

    # the Spark tier's plans: a resident-tier result is one LocalTableScan
    A.RESIDENT_MAX_BYTES = 0
    cfg = IndexConfig(rows_per_segment=150)
    rows = [(i, [float(i % 13), float(i % 7), float(i % 5), 1.0] * 2) for i in range(301)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = A.build_ann(spark, df, root, cfg, id_col="vec_id", vector_col="embedding",
                      rows_per_segment=150)
    A.build_ann_ivfpq(spark, cat, cfg)
    AG.build_ann_graph(spark, cat, cfg)
    q = [1.0] * 8
    qdf = df.filter(F.col("vec_id").isin([0, 17, 300])).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    return {
        "ann_exact": lambda: A.ann_topk(spark, cat, q, k=5, cfg=cfg, mode="exact"),
        "ann_ivf": lambda: A.ann_topk(spark, cat, q, k=5, cfg=cfg, mode="ivf"),
        "ann_ivf_filtered": lambda: A.ann_topk(
            spark, cat, q, k=5, cfg=cfg, mode="ivf", filter_ext_ids=set(range(0, 301, 2))
        ),
        "ann_sq": lambda: A.ann_topk_sq(spark, cat, q, k=5, cfg=cfg),
        "ann_bq": lambda: A.ann_topk_bq(spark, cat, q, k=5, cfg=cfg),
        "ann_bq_rerank": lambda: A.ann_topk_bq(spark, cat, q, k=5, cfg=cfg, rerank_factor=3),
        "ann_pq": lambda: A.ann_topk_pq(spark, cat, q, k=5, cfg=cfg),
        "ann_ivfpq": lambda: A.ann_topk_ivfpq(spark, cat, q, k=5, cfg=cfg),
        "ann_graph": lambda: AG.ann_topk_graph(spark, cat, q, k=5, cfg=cfg),
        "ann_knn_join_ivf": lambda: A.knn_join_ivf(spark, cat, qdf, k=3),
    }


def main():
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan_capture")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    from cuvs_lucene_spark.functions.textstats import quality_score, repetition_stats
    from cuvs_lucene_spark.operators.dedup import (
        embedding_near_dup,
        minhash_lsh_candidates,
        ngram_contamination,
        simhash,
        simhash_near_dup,
    )
    from cuvs_lucene_spark.operators.sampling import training_mix

    plans = {
        "minhash_lsh": lambda: minhash_lsh_candidates(docs, n_perm=8, bands=2),
        "simhash": lambda: simhash(docs),
        "simhash_near_dup": lambda: simhash_near_dup(docs, max_hamming=3, bands=4),
        "embedding_near_dup": lambda: embedding_near_dup(embs, threshold=0.4),
        "quality": lambda: quality_score(docs),
        "repetition": lambda: repetition_stats(docs, n=2),
        "training_mix": lambda: training_mix(
            docs, {"en": 0.9, "fr": 0.5, "zh": 0.25}, default_rate=0.1
        ),
        "decontaminate": lambda: ngram_contamination(
            train=docs.filter(F.col("doc_id") % 17 != 0),
            evals=docs.filter(F.col("doc_id") % 17 == 0),
            n=5,
        ),
    }
    want_ann = not only or "ann" in only or any(o.startswith("ann_") for o in only)
    tmp = tempfile.mkdtemp(prefix="plan_capture_ann_")
    if want_ann:
        plans.update(ann_plans(spark, os.path.join(tmp, "index")))
    for name, fn in plans.items():
        if only and name not in only and not (name.startswith("ann_") and "ann" in only):
            continue
        df = fn()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).replace(tmp, "<tmp>")  # so before/after captures diff cleanly
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
