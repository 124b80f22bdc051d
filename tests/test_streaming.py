"""Streaming ingest: micro-batch epochs ≙ Lucene commits. The streamed
index must answer queries identically to a batch build over the same docs
(SURVEY.md §1.1 segment model)."""

import os

import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.bm25 import bm25_topk
from cuvs_lucene_spark.operators.merge import force_merge
from cuvs_lucene_spark.operators.segments import build_index
from cuvs_lucene_spark.streaming.ingest import incremental_add, stream_build
from cuvs_lucene_spark.sources.catalog import IndexCatalog

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, prune_range=64, term_buckets=8)


def _topk(spark, cat, terms, k=10):
    return [
        (r["ext_id"], round(r["score"], 6))
        for r in bm25_topk(spark, cat, terms, k=k, cfg=CFG).collect()
    ]


def test_incremental_epochs_equal_batch(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cat = IndexCatalog(str(tmp_path / "inc"))
    # three manual epochs (commit-per-batch)
    for epoch, (lo, hi) in enumerate([(0, 170), (170, 340), (340, 10_000)]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        incremental_add(spark, cat, batch, CFG, epoch, content_col="text", id_col="doc_id")
    batch_cat = build_index(
        spark, docs, str(tmp_path / "batch"), CFG, content_col="text", id_col="doc_id"
    )
    for terms in (["join", "vector"], ["dup"], ["spark", "customer", "dup"]):
        assert _topk(spark, cat, terms) == _topk(spark, batch_cat, terms)
    # post-stream compaction (Lucene background merge analogue)
    force_merge(spark, cat, CFG)
    assert _topk(spark, cat, ["join", "vector"]) == _topk(spark, batch_cat, ["join", "vector"])


def test_incremental_epochs_equal_batch_on_the_spark_flush(spark, tmp_path, monkeypatch):
    """The same, with the epochs and the batch build on the Spark flush."""
    import cuvs_lucene_spark.operators.segments as S

    monkeypatch.setattr(S, "DRIVER_FLUSH_MAX_DOCS", 0)
    test_incremental_epochs_equal_batch(spark, tmp_path)


def test_structured_streaming_ingest(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumnRenamed("doc_id", "ext_id")
        .withColumnRenamed("text", "content")
    )
    q, cat = stream_build(
        spark, stream, str(tmp_path / "sidx"), CFG,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert os.path.exists(str(tmp_path / "sidx/manifest.json"))
    batch_cat = build_index(
        spark, docs, str(tmp_path / "batch2"), CFG, content_col="text", id_col="doc_id"
    )
    assert _topk(spark, cat, ["join", "vector"]) == _topk(spark, batch_cat, ["join", "vector"])
    # every epoch became its own segment namespace
    segs = {r["segment_id"] for r in cat.read(spark, "segment_stats").collect()}
    assert len(segs) >= 3


def test_incremental_vector_epochs_equal_batch(spark, tmp_path):
    """Streaming ANN ingest: epoch-appended sidecar segments answer
    exact/IVF/SQ searches identically to a batch build over the same
    vectors; redelivered epochs are idempotent."""
    import numpy as np

    from cuvs_lucene_spark.operators.ann import ann_topk, ann_topk_sq, build_ann
    from cuvs_lucene_spark.streaming.ingest import incremental_add_vectors

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cfg = IndexConfig(rows_per_segment=100)
    inc = IndexCatalog(str(tmp_path / "annstream"))
    for epoch, (lo, hi) in enumerate([(0, 180), (180, 370), (370, 10_000)]):
        batch = vecs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        incremental_add_vectors(
            spark, inc, batch, cfg, epoch, id_col="vec_id", vector_col="embedding"
        )
    bcat = build_ann(
        spark, vecs, str(tmp_path / "annbatch"), cfg,
        id_col="vec_id", vector_col="embedding", rows_per_segment=100,
    )
    q = [float(v) for v in vecs.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]

    def res(c, **kw):
        return [
            (r["ext_id"], round(r["score"], 9))
            for r in ann_topk(spark, c, q, k=10, cfg=cfg, **kw).collect()
        ]

    assert res(inc, mode="exact") == res(bcat, mode="exact")
    # IVF/SQ are per-segment structures; segmentation differs between the
    # two catalogs, so compare against exact instead of each other
    assert {i for i, _ in res(inc, mode="ivf")} <= {
        i for i, _ in [(r["ext_id"], 0) for r in ann_topk(spark, bcat, q, k=30, cfg=cfg, mode="exact").collect()]
    }
    sq = [
        (r["ext_id"], round(r["score"], 9))
        for r in ann_topk_sq(spark, inc, q, k=10, cfg=cfg).collect()
    ]
    assert len(sq) == 10
    # redelivery: stage-checkpoint no-op AND tag-replace both leave counts fixed
    n_flat = inc.read(spark, "ann_flat").count()
    batch1 = vecs.filter((F.col("vec_id") >= 180) & (F.col("vec_id") < 370))
    incremental_add_vectors(spark, inc, batch1, cfg, 1, id_col="vec_id", vector_col="embedding")
    m = inc.read_manifest()
    del m["stages"]["ann_epoch_1"]
    inc._write_manifest(m)
    incremental_add_vectors(spark, inc, batch1, cfg, 1, id_col="vec_id", vector_col="embedding")
    assert inc.read(spark, "ann_flat").count() == n_flat
    assert res(inc, mode="exact") == res(bcat, mode="exact")


def test_vector_epochs_keep_graph_pq_consistent_and_merge(spark, tmp_path):
    """Derived graph/PQ sidecars follow streaming epochs (per-epoch
    appends) and merge_ann rebuilds them — a stale derived table would
    silently miss the new/merged segments."""
    import numpy as np

    from cuvs_lucene_spark.operators.ann import (
        ann_topk, ann_topk_pq, build_ann_pq, merge_ann,
    )
    from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph
    from cuvs_lucene_spark.streaming.ingest import incremental_add_vectors

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cfg = IndexConfig(rows_per_segment=100)
    cat = IndexCatalog(str(tmp_path / "gpstream"))
    e0 = vecs.filter(F.col("vec_id") < 250)
    incremental_add_vectors(spark, cat, e0, cfg, 0, id_col="vec_id", vector_col="embedding")
    build_ann_graph(spark, cat, cfg)
    build_ann_pq(spark, cat, cfg)
    e1 = vecs.filter(F.col("vec_id") >= 250)
    incremental_add_vectors(spark, cat, e1, cfg, 1, id_col="vec_id", vector_col="embedding")
    rows = sorted(vecs.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], np.float32)
    q = x[300]  # lives in epoch 1 — only reachable if derived tables followed
    s = 1.0 / (1.0 + ((x.astype(np.float64) - q.astype(np.float64)) ** 2).sum(1))
    exact30 = {int(ids[i]) for i in np.lexsort((ids, -s))[:30]}

    def check():
        g = [r["ext_id"] for r in ann_topk_graph(spark, cat, q, k=10, cfg=cfg).collect()]
        p = [r["ext_id"] for r in ann_topk_pq(spark, cat, q, k=10, cfg=cfg).collect()]
        e = [r["ext_id"] for r in ann_topk(spark, cat, q, k=10, cfg=cfg, mode="exact").collect()]
        assert g and g[0] == 300 and set(g) <= exact30
        assert p and p[0] == 300 and set(p) <= exact30
        assert e[0] == 300

    check()
    merge_ann(spark, cat, cfg)  # rebuild collapses epochs; derived follow
    assert cat.read(spark, "ann_flat").count() == 5  # 500 rows / rows_per_segment=100
    check()


def test_auto_compaction_bounds_dead_rows(spark, tmp_path):
    """Long-lived ingest + tiered merges must BOUND the dead-row fraction:
    logical drops accumulate per merge, and once they exceed
    cfg.compact_dropped_fraction of the table the merge auto-compacts
    (Lucene deletes unreferenced segment files; Iceberg
    rewrite_data_files). 10 epochs + repeated tiered merges → physical
    segdata rows stay within a constant factor of the logical rows."""
    import dataclasses

    from cuvs_lucene_spark.operators.merge import merge_segments, pick_merge_groups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = dataclasses.replace(CFG, merge_fanin=4)
    cat = IndexCatalog(str(tmp_path / "autocomp"))
    per = 50
    for epoch in range(10):
        batch = docs.filter(
            (F.col("doc_id") >= epoch * per) & (F.col("doc_id") < (epoch + 1) * per)
        )
        incremental_add(spark, cat, batch, cfg, epoch, content_col="text", id_col="doc_id")
        if epoch % 3 == 2:  # background tiered merge every 3 epochs
            groups = pick_merge_groups(spark, cat, cfg, max_segment_docs=10**9)
            if groups:
                merge_segments(spark, cat, cfg, groups=groups)
    groups = pick_merge_groups(spark, cat, cfg, max_segment_docs=10**9)
    if groups:
        merge_segments(spark, cat, cfg, groups=groups)
    ent = cat.read_manifest()["tables"]["segdata"]
    logical = cat.read(spark, "segdata").count()          # drop-filtered view
    physical = spark.read.parquet(*cat.table_dirs("segdata")).count()
    assert physical <= 2.0 * logical, (physical, logical, ent.get("dropped_segments"))
    # and the index still answers correctly vs a batch build of the same docs
    batch_cat = build_index(
        spark, docs.filter(F.col("doc_id") < 10 * per), str(tmp_path / "batch10"),
        cfg, content_col="text", id_col="doc_id",
    )
    assert _topk(spark, cat, ["join", "vector"]) == _topk(spark, batch_cat, ["join", "vector"])
