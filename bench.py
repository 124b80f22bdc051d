"""Benchmark harness — prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline numbers (BASELINE.json metric):
- index-build throughput (files/sec) over the sf documents table AND over
  a larger deterministic synthetic code corpus (input_hint schema)
- BM25 top-10 QPS over a mixed frozen query set (hot / multi / AND /
  filtered / after-delete)
- ANN exact + IVF top-k latency
- dedup/text-analysis pipeline ops

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_SYNTH_DOCS (default 20000) synthetic build-bench corpus size.
Run tools/scaling.py for the N-vs-4N parallelism study (BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_DOCS = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", "20000"))


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.fixtures import generate_documents_pdf
    from cuvs_lucene_spark.operators.ann import ann_topk, build_ann
    from cuvs_lucene_spark.operators.bm25 import bm25_topk
    from cuvs_lucene_spark.operators.dedup import minhash_lsh_candidates, simhash, simhash_near_dup
    from cuvs_lucene_spark.operators.deletes import delete_by_term
    from cuvs_lucene_spark.operators.merge import merge_segments
    from cuvs_lucene_spark.operators.segments import build_index
    from cuvs_lucene_spark.functions.textstats import quality_score

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("cuvs_lucene_spark_bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        # match split size to this corpus scale (128MB default would cap
        # scan parallelism at ~3 tasks for the whole postings table)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "0")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="bench_idx_")
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # warm up the JVM/codegen so measured ops reflect steady state (at
    # cluster scale, session startup amortizes to zero)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.createDataFrame([("x",)], "s string").selectExpr(
        "sha2(s, 256)", "regexp_extract_all(s, '[a-z]+', 0)"
    ).collect()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    cfg = IndexConfig(
        rows_per_segment=max(256, n_docs // CPUS),
        block_size=128,
        prune_range=1024,
        term_buckets=32,
    )

    # --- index build over the sf corpus ---
    cat = timed(
        "build_index",
        lambda: build_index(
            spark, docs, f"{tmp}/sf", cfg, content_col="text", id_col="doc_id", resume=False
        ),
    )
    extras["build_files_per_sec"] = round(n_docs / timings["build_index"], 1)

    # --- synthetic code corpus build (input_hint schema, hot-term skew) ---
    pdf = generate_documents_pdf(SYNTH_DOCS)
    sdocs = spark.createDataFrame(pdf).repartition(CPUS).cache()
    sdocs.count()
    scfg = IndexConfig(
        rows_per_segment=max(512, SYNTH_DOCS // CPUS), block_size=128, term_buckets=32
    )
    timed(
        "build_index_synth",
        lambda: build_index(
            spark, sdocs, f"{tmp}/synth", scfg, content_col="content", id_col="ext_id", resume=False
        ),
    )
    extras["synth_files_per_sec"] = round(SYNTH_DOCS / timings["build_index_synth"], 1)

    # --- BM25 query workload ---
    qset = [
        ("q_hot", ["join"], "or", None),
        ("q_or2", ["join", "vector"], "or", None),
        ("q_or3", ["spark", "customer", "dup"], "or", None),
        ("q_and", ["dup", "slow"], "and", None),
        ("q_filter", ["join", "vector"], "or", "en"),
    ]
    t0 = time.time()
    for name, terms, mode, flt in qset:
        fdf = None
        if flt:
            fdf = docs.filter(F.col("lang") == flt).select(F.col("doc_id").alias("ext_id"))
        timed(
            name,
            lambda terms=terms, mode=mode, fdf=fdf: bm25_topk(
                spark, cat, terms, k=10, mode=mode, cfg=cfg, filter_ext_ids=fdf
            ).collect(),
        )
    extras["bm25_qps"] = round(len(qset) / (time.time() - t0), 3)
    # warm repeat: stats + norms memoized → the steady-state single-query
    # latency a long-lived service pays (one Spark job)
    timed("q_hot_warm", lambda: bm25_topk(spark, cat, ["join"], k=10, cfg=cfg).collect())
    # scored BooleanQuery (MUST / >=2 SHOULD / MUST_NOT) — H5+H6 combined
    from cuvs_lucene_spark.operators.bm25 import bm25_boolean_topk

    timed(
        "q_boolean",
        lambda: bm25_boolean_topk(
            spark, cat, must=["join"], should=["spark", "customer", "dup"],
            exclude=["slow"], min_should_match=2, k=10, cfg=cfg,
        ).collect(),
    )

    # --- batched query throughput (one Spark job for the whole batch) ---
    from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

    vocab = [
        "join", "vector", "spark", "customer", "dup", "slow", "scan", "hash",
        "row", "batch", "filter", "merge", "order", "line", "data", "window",
    ]
    batch = {
        f"q{i}": {"terms": [vocab[i % len(vocab)], vocab[(i * 7 + 3) % len(vocab)]],
                  "mode": "and" if i % 5 == 4 else "or", "k": 10}
        for i in range(64)
    }
    nres = timed("bm25_batch64", lambda: bm25_topk_batch(spark, cat, batch, cfg).count())
    extras["bm25_batch_qps"] = round(len(batch) / timings["bm25_batch64"], 2)
    extras["bm25_batch_rows"] = nres
    # the same batch again: the steady-state repeat-batch throughput a
    # serving tier pays once the first run has filled the resident pack
    nres_w = timed(
        "bm25_batch64_warm", lambda: bm25_topk_batch(spark, cat, batch, cfg).count()
    )
    extras["bm25_batch_warm_qps"] = round(len(batch) / timings["bm25_batch64_warm"], 2)
    assert nres_w == nres  # a repeat is result-identical

    # --- positional sidecar + PhraseQuery + multi-term + hybrid text ops ---
    from cuvs_lucene_spark.operators.multiterm import fuzzy_topk, prefix_topk
    from cuvs_lucene_spark.operators.positions import build_positions, phrase_topk

    timed("build_positions", lambda: build_positions(spark, cat, docs, cfg))
    timed(
        "phrase_query",
        lambda: phrase_topk(spark, cat, ["the", "key"], k=10, cfg=cfg).collect(),
    )
    timed(
        "prefix_query",
        lambda: prefix_topk(spark, cat, "s", k=10, cfg=cfg).collect(),
    )
    timed(
        "fuzzy_query",
        lambda: fuzzy_topk(spark, cat, "part", k=10, max_edits=2, cfg=cfg).collect(),
    )
    from cuvs_lucene_spark.operators.bm25 import dismax_topk
    from cuvs_lucene_spark.operators.positions import span_near

    timed(
        "dismax_query",
        lambda: dismax_topk(
            spark, cat, ["scan", "merge", "data"], tie_breaker=0.3, k=10, cfg=cfg
        ).collect(),
    )
    timed(
        "span_near_query",
        lambda: span_near(
            spark, cat, ["data", "scan"], slop=4, in_order=True, cfg=cfg
        ).count(),
    )
    from cuvs_lucene_spark.operators.bm25 import term_docs
    from cuvs_lucene_spark.operators.facets import facet_counts
    from cuvs_lucene_spark.operators.mlt import more_like_this_topk

    timed(
        "facet_lang",
        lambda: facet_counts(
            docs, term_docs(spark, cat, "data", cfg), "lang", top_n=5
        ).collect(),
    )
    timed(
        "more_like_this",
        lambda: more_like_this_topk(spark, cat, docs, 42, k=10, cfg=cfg).collect(),
    )
    timed(
        "boosted_query",
        lambda: bm25_topk(
            spark, cat, ["spark", "customer", "dup"], k=10, cfg=cfg,
            boosts={"spark": 2.0, "dup": 0.5},
        ).collect(),
    )
    from cuvs_lucene_spark.operators.bm25 import hit_count, synonym_topk
    from cuvs_lucene_spark.operators.grouping import collapse_topk, group_topk
    from cuvs_lucene_spark.operators.highlight import highlight

    timed(
        "synonym_query",
        lambda: synonym_topk(spark, cat, ["data", "vector"], k=10, cfg=cfg).collect(),
    )
    timed(
        "group_query",
        lambda: group_topk(
            spark, cat, docs, ["spark", "customer", "dup"], "lang",
            k_groups=3, per_group=3, cfg=cfg,
        ).collect(),
    )
    timed(
        "collapse_query",
        lambda: collapse_topk(
            spark, cat, docs, ["join", "vector"], "source", k=10, cfg=cfg
        ).collect(),
    )
    timed(
        "highlight_query",
        lambda: highlight(
            spark, cat, docs, ["join", "vector"], window=4, cfg=cfg
        ).count(),
    )
    timed(
        "hit_count",
        lambda: hit_count(
            spark, cat, must=["dup"], any_of=["join", "vector"], cfg=cfg
        ).collect(),
    )
    from cuvs_lucene_spark.operators.bm25 import sorted_topk
    from cuvs_lucene_spark.operators.multiterm import spell_suggest

    timed(
        "sort_by_field",
        lambda: sorted_topk(
            spark, cat, docs, ["join", "vector"], "n_chars", k=10,
            ascending=False, cfg=cfg,
        ).collect(),
    )
    timed(
        "spell_suggest",
        lambda: spell_suggest(
            spark, cat, "dta", max_edits=2, transpositions=False, cfg=cfg
        ).collect(),
    )
    from cuvs_lucene_spark.operators.multiterm import complete

    timed(
        "complete_prefix",
        lambda: complete(spark, cat, "s", num_suggestions=5, cfg=cfg).collect(),
    )
    from cuvs_lucene_spark.functions.textstats import repetition_stats
    from cuvs_lucene_spark.operators.sampling import training_mix

    timed("repetition", lambda: repetition_stats(docs, n=2).count())
    timed(
        "training_mix",
        lambda: training_mix(
            docs, {"en": 0.9, "fr": 0.5, "zh": 0.25}, default_rate=0.1
        ).filter("keep").count(),
    )

    # --- delete + partial merge ---
    timed("delete_by_term", lambda: delete_by_term(spark, cat, "dup", cfg))
    timed("merge_segments", lambda: merge_segments(spark, cat, cfg))
    timed("q_after_merge", lambda: bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg).collect())

    # --- ANN sidecar ---
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q0 = [float(v) for v in embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    acat = timed(
        "ann_build",
        lambda: build_ann(
            spark, embs, f"{tmp}/ann", cfg, id_col="vec_id", vector_col="embedding",
            rows_per_segment=1000,
        ),
    )
    timed("ann_exact", lambda: ann_topk(spark, acat, q0, k=10, cfg=cfg, mode="exact").collect())
    timed("ann_ivf", lambda: ann_topk(spark, acat, q0, k=10, cfg=cfg, mode="ivf").collect())
    from cuvs_lucene_spark.operators.ann import ann_topk_pq, ann_topk_sq, build_ann_pq, knn_join_ivf

    timed("ann_sq", lambda: ann_topk_sq(spark, acat, q0, k=10, cfg=cfg).collect())
    timed("ann_pq_build", lambda: build_ann_pq(spark, acat, cfg))
    timed("ann_pq", lambda: ann_topk_pq(spark, acat, q0, k=10, cfg=cfg).collect())
    from cuvs_lucene_spark.operators.ann import ann_topk_ivfpq, build_ann_ivfpq

    timed("ann_ivfpq_build", lambda: build_ann_ivfpq(spark, acat, cfg))
    timed("ann_ivfpq", lambda: ann_topk_ivfpq(spark, acat, q0, k=10, cfg=cfg).collect())
    from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph

    timed("ann_graph_build", lambda: build_ann_graph(spark, acat, cfg))
    timed("ann_graph", lambda: ann_topk_graph(spark, acat, q0, k=10, cfg=cfg).collect())
    qdf = embs.filter(F.col("vec_id") < 64).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    timed("knn_join_ivf64", lambda: knn_join_ivf(spark, acat, qdf, k=5).count())
    # the zero-driver-state probe (the 10^6-segment path): same join, probe
    # ranking beside the pruned centroid scan
    timed(
        "knn_join_ivf64_dist",
        lambda: knn_join_ivf(spark, acat, qdf, k=5, probe_mode="distributed").count(),
    )
    # fragment-and-replicate tier (the many-segments × many-queries cell:
    # nothing broadcast, nothing collected) + batch-ANN QPS headline
    timed(
        "knn_join_ivf64_shuffle",
        lambda: knn_join_ivf(spark, acat, qdf, k=5, probe_mode="shuffle").count(),
    )
    extras["ann_batch_qps"] = round(64 / timings["knn_join_ivf64_shuffle"], 2)
    # DataFrame-filter tier: acceptDocs resolved executor-side from ann_ids
    fdf = embs.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("ext_id")
    )
    timed(
        "ann_filter_df",
        lambda: ann_topk(
            spark, acat, q0, k=10, cfg=cfg, mode="ivf",
            filter_ext_ids=fdf, filter_mode="df",
        ).collect(),
    )
    # hybrid fulltext ∪ vector serving shape: BM25 top-depth + exact kNN
    # top-depth fused by RRF — two pruned top-k scans + a ≤2·depth-row join
    from cuvs_lucene_spark.operators.hybrid import hybrid_rrf_topk

    timed(
        "hybrid_rrf",
        lambda: hybrid_rrf_topk(
            spark, cat, acat, ["join", "vector"], q0, k=10, depth=50, cfg=cfg
        ).collect(),
    )
    # group-wise incremental merge: 2 of 8 segments merged — cost must not
    # scale with the 6 untouched segments (and stays under the compaction
    # trigger, so this times the incremental path itself)
    from cuvs_lucene_spark.operators.ann import merge_ann

    n_embs = embs.count()
    acat2 = timed(
        "ann_build_8seg",
        lambda: build_ann(
            spark, embs, f"{tmp}/ann2", cfg, id_col="vec_id",
            vector_col="embedding", rows_per_segment=max(32, n_embs // 8),
        ),
    )
    ann_segs = sorted(
        int(r["segment_id"])
        for r in acat2.read(spark, "ann_flat").select("segment_id").collect()
    )
    timed(
        "merge_ann_2segs",
        lambda: merge_ann(spark, acat2, cfg, groups=[ann_segs[:2]]),
    )
    timed("ann_exact_after_merge", lambda: ann_topk(
        spark, acat2, q0, k=10, cfg=cfg, mode="exact").collect())

    # --- graph-build crossover probe (driver-side numpy; the per-segment
    # build kernel): exact O(n²) vs RP-forest+NN-descent at 8k rows; the
    # 100k study (46.6s vs ~250s exact, >5x) is pinned in BENCH.md ---
    import numpy as _np

    import cuvs_lucene_spark.operators.ann_graph as _AG

    _gx = _np.random.default_rng(3).normal(size=(8_000, 64)).astype(_np.float32)
    timed("graph_build_exact_8k", lambda: _AG._exact_knn_graph(_gx, 32))
    timed(
        "graph_build_nnd_8k",
        lambda: _AG._nn_descent_graph(_gx, 32, 20, 42),
    )

    # --- pipeline ops ---
    timed("minhash_lsh", lambda: minhash_lsh_candidates(docs, n_perm=8, bands=2).count())
    timed("simhash", lambda: simhash(docs).count())
    timed("simhash_near_dup", lambda: simhash_near_dup(docs, max_hamming=3, bands=4).count())
    from cuvs_lucene_spark.operators.dedup import duplicate_components

    timed(
        "dedup_components",
        lambda: duplicate_components(
            simhash_near_dup(docs, max_hamming=3, bands=4),
            all_ids=docs.select("doc_id"),
        ).count(),
    )
    timed("quality", lambda: quality_score(docs).count())
    from cuvs_lucene_spark.operators.dedup import ngram_contamination

    timed(
        "decontaminate",
        lambda: ngram_contamination(
            train=docs.filter(F.col("doc_id") % 17 != 0),
            evals=docs.filter(F.col("doc_id") % 17 == 0),
            n=5,
        ).count(),
    )
    from cuvs_lucene_spark.operators.dedup import embedding_near_dup

    timed("embedding_near_dup", lambda: embedding_near_dup(embs, threshold=0.4).count())

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "index-build files/sec + BM25 top-10 QPS (rank-identical engine), end-to-end op timings",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **extras,
                "cpus": CPUS,
                "n_docs": n_docs,
                "synth_docs": SYNTH_DOCS,
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
