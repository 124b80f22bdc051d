"""Capture .explain('formatted') plans into plans/r07/<name>_<tag>.txt:
the dataset-only operators (no index needed), the ANN single-query
modes (``ann_*``) over a small generated index built in a temp dir, and
the BM25 query family (``bm25_*``) over an index of the sf0.001 corpus
(the ``sf0.001`` sibling of ``SPARK_GRAFT_SF_DIR``) built in a temp dir.
Index plans are the Spark tier's: the resident budgets are set to 0.
The ``write`` op records, as ``write_<op>_<table>``, the DataFrame each
per-segment write hands to ``IndexCatalog.write`` / ``append`` with the
driver bounds (``segments.DRIVER_FLUSH_MAX_DOCS``,
``ann.ANN_DRIVER_MAX_VALUES``) set to 0: a text build, a positions build,
an epoch with its positions append, a positions refresh, an ANN build and
a vector epoch over tiny generated inputs in a temp dir.

Usage: python tools/capture_plans.py <before|after> [op ...]
An op argument ``ann`` selects every ``ann_*`` plan, ``bm25`` every
``bm25_*`` plan, ``write`` every ``write_*`` plan (and only when named).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")


def ann_plans(spark, root: str) -> dict:
    """The ANN search modes over 301 8-d vectors in segments of 150/150/1
    (the last segment has no IVF index and takes the B2 fallback)."""
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.operators import ann as A
    from cuvs_lucene_spark.operators import ann_graph as AG

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


def bm25_plans(spark, root: str) -> dict:
    """Every BM25 query kind, warm: plain/and/boolean/dismax/synonym,
    the batch (first and repeat call), a small DataFrame
    filter, one over the broadcast cap (the cogroup tier), phrase and
    multi-phrase, fuzzy (its dictionary scan, where the checkout has
    ``multiterm._fuzzy_scan``, and the scored query), spell suggestions,
    and a query after a delete (last: it tombstones a doc)."""
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.operators import bm25 as B
    from cuvs_lucene_spark.operators import multiterm as M
    from cuvs_lucene_spark.operators.deletes import delete_docs
    from cuvs_lucene_spark.operators.positions import build_positions, phrase_topk
    from cuvs_lucene_spark.operators.segments import build_index

    cfg = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
    docs = spark.read.parquet(f"{os.path.dirname(SF_DIR)}/sf0.001/documents.parquet")
    cat = build_index(spark, docs, root, cfg, content_col="text", id_col="doc_id")
    build_positions(spark, cat, docs, cfg)
    small = spark.range(0, 400, 3).select(F.col("id").alias("ext_id"))
    batch = {"q0": {"terms": ["join", "vector"], "k": 5},
             "q1": {"must": ["dup"], "should": ["slow", "spark"], "k": 5}}

    def repeat_batch():
        B.bm25_topk_batch(spark, cat, batch, cfg).collect()
        return B.bm25_topk_batch(spark, cat, batch, cfg)

    def over_cap():
        cap, B.FILTER_BROADCAST_MAX = B.FILTER_BROADCAST_MAX, 0
        try:
            return B.bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg, filter_ext_ids=small)
        finally:
            B.FILTER_BROADCAST_MAX = cap

    def after_delete():
        delete_docs(spark, cat, spark.range(1).select(F.col("id").alias("ext_id")))
        return B.bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg)

    return {
        "bm25_topk": lambda: B.bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg),
        "bm25_topk_and": lambda: B.bm25_topk(spark, cat, ["dup", "slow"], k=10, mode="and", cfg=cfg),
        "bm25_boolean": lambda: B.bm25_boolean_topk(
            spark, cat, must=["join"], should=["vector"], exclude=["slow"], k=10, cfg=cfg
        ),
        "bm25_dismax": lambda: B.dismax_topk(spark, cat, ["join", "vector"], 0.3, k=10, cfg=cfg),
        "bm25_synonym": lambda: B.synonym_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg),
        "bm25_batch": lambda: B.bm25_topk_batch(spark, cat, batch, cfg),
        "bm25_set_filter": lambda: B.bm25_topk(
            spark, cat, ["join", "vector"], k=10, cfg=cfg, filter_ext_ids=small
        ),
        "bm25_df_filter_over_cap": over_cap,
        "bm25_batch_cached": repeat_batch,
        "bm25_phrase": lambda: phrase_topk(spark, cat, ["order", "fast"], k=10, cfg=cfg),
        "bm25_multi_phrase": lambda: phrase_topk(
            spark, cat, [["data", "group"], "slow"], k=10, cfg=cfg
        ),
        **({"bm25_fuzzy_scan": lambda: M._fuzzy_scan(spark, cat, "ordre", 1, 0, True)}
           if hasattr(M, "_fuzzy_scan") else {}),
        "bm25_fuzzy": lambda: M.fuzzy_topk(spark, cat, "ordre", k=10, max_edits=1, cfg=cfg),
        "bm25_spell_suggest": lambda: M.spell_suggest(spark, cat, "ordre", max_edits=2,
                                                      transpositions=True),
        "bm25_spell_suggest_plain": lambda: M.spell_suggest(spark, cat, "ordre", max_edits=2),
        "bm25_after_delete": after_delete,
    }


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def write_plans(spark, root: str) -> dict:
    """The formatted plan of every DataFrame the Spark-tier writes hand to
    ``IndexCatalog.write`` / ``append``, keyed ``write_<op>_<table>``."""
    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.fixtures import generate_documents_pdf, generate_embeddings
    from cuvs_lucene_spark.operators import ann as A
    from cuvs_lucene_spark.operators import segments as S
    from cuvs_lucene_spark.operators.positions import build_positions, refresh_positions
    from cuvs_lucene_spark.sources.catalog import IndexCatalog
    from cuvs_lucene_spark.streaming.ingest import incremental_add, incremental_add_vectors

    S.DRIVER_FLUSH_MAX_DOCS = A.ANN_DRIVER_MAX_VALUES = 0
    cfg = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
    pdf = generate_documents_pdf(280, seed=5)[["ext_id", "content"]]
    docs = spark.createDataFrame(pdf.iloc[:240])
    epoch = spark.createDataFrame(pdf.iloc[240:].assign(ext_id=lambda p: p.ext_id + 10**5))
    vecs = generate_embeddings(spark, 400, dim=8, seed=5)
    epoch_vecs = vecs.where("ext_id >= 300").selectExpr("ext_id + 1000 AS ext_id", "vector")
    plans, op = {}, [None]
    real = {name: getattr(IndexCatalog, name) for name in ("write", "append")}

    def spy(name):
        def wrapped(cat, df, table, *args, **kwargs):
            if op[0] is not None and not hasattr(df, "num_rows"):  # a DataFrame
                plans[f"write_{op[0]}_{table}"] = _explain(df)
            return real[name](cat, df, table, *args, **kwargs)
        return wrapped

    def run(name, fn):
        op[0] = name
        try:
            return fn()
        finally:
            op[0] = None

    for name in real:
        setattr(IndexCatalog, name, spy(name))
    try:
        cat = run("build_index", lambda: S.build_index(spark, docs, f"{root}/text", cfg))
        run("build_positions", lambda: build_positions(
            spark, cat, docs, cfg, content_col="content", id_col="ext_id"))
        run("epoch", lambda: incremental_add(spark, cat, epoch, cfg, epoch=0))
        other = S.build_index(spark, docs, f"{root}/refresh", cfg)
        incremental_add(spark, other, epoch, cfg, epoch=0)
        run("refresh_positions", lambda: refresh_positions(
            spark, other, docs.unionByName(epoch), cfg, content_col="content", id_col="ext_id"))
        ann = run("build_ann", lambda: A.build_ann(
            spark, vecs.where("ext_id < 300"), f"{root}/ann", cfg, rows_per_segment=150))
        run("epoch_vectors", lambda: incremental_add_vectors(spark, ann, epoch_vecs, cfg, 0))
    finally:
        for name, fn in real.items():
            setattr(IndexCatalog, name, fn)
    return plans


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
    # the Spark tier's plans (resident budget 0): a resident ANN search or
    # BM25 query result is one LocalTableScan
    from cuvs_lucene_spark.operators import resident

    resident.RESIDENT_MAX_BYTES = resident.TEXT_RESIDENT_MAX_BYTES = 0
    want_ann = not only or "ann" in only or any(o.startswith("ann_") for o in only)
    tmp = tempfile.mkdtemp(prefix="plan_capture_ann_")
    if want_ann:
        plans.update(ann_plans(spark, os.path.join(tmp, "index")))
    if not only or "bm25" in only or any(o.startswith("bm25_") for o in only):
        plans.update(bm25_plans(spark, os.path.join(tmp, "bm25_index")))
    texts = {}
    if "write" in only:
        texts = write_plans(spark, os.path.join(tmp, "write"))
    for name, fn in plans.items():
        family = name.split("_")[0]
        if only and name not in only and not (family in ("ann", "bm25") and family in only):
            continue
        texts[name] = _explain(fn())
    for name, txt in texts.items():
        txt = txt.replace(tmp, "<tmp>")  # so before/after captures diff cleanly
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
