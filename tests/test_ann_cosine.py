"""COSINE similarity across every ANN format — the reference exercises
EUCLIDEAN and COSINE through the same codec (TestMerge.java:167 builds
COSINE fields; TestCuVSDeletedDocuments.java:76 deletes+searches under
COSINE). Derived structures (IVF/SQ/PQ/graph) are built over
unit-normalized vectors (L2-on-unit ranks as cosine); returned scores are
true cosine computed from the raw flat storage.

Vectors get wildly varied norms so cosine order provably differs from L2
order — a pass here cannot be an accident of the metric being ignored.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.ann import (
    ann_topk,
    ann_topk_pq,
    ann_topk_sq,
    build_ann,
    build_ann_pq,
    delete_ann,
    knn_join_ivf,
    merge_ann,
)
from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph

from dataclasses import replace

CFG = replace(IndexConfig(), ann=replace(IndexConfig().ann, metric="cosine"))

N, DIM = 600, 16


def _data():
    rng = np.random.default_rng(99)
    dirs = rng.normal(size=(N, DIM))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    norms = rng.uniform(0.2, 5.0, size=(N, 1))  # cosine order != L2 order
    return (dirs * norms).astype(np.float32)


X = _data()
IDS = np.arange(N, dtype=np.int64)


def _cos(q):
    x64 = X.astype(np.float64)
    q64 = np.asarray(q, np.float64)
    return (x64 @ q64) / (np.linalg.norm(x64, axis=1) * np.linalg.norm(q64))


def _exact_ids(q, k):
    s = _cos(q)
    return [int(i) for i in np.lexsort((IDS, -s))[:k]]


@pytest.fixture(scope="module")
def ccat(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(N)], "vec_id long, embedding array<float>"
    )
    cat = build_ann(
        spark, df, str(tmp_path_factory.mktemp("cosann")), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=100,
    )
    build_ann_graph(spark, cat, CFG)
    build_ann_pq(spark, cat, CFG)
    return cat


def test_cosine_differs_from_l2():
    """Sanity: with varied norms, the two metrics rank differently."""
    q = X[7]
    l2 = np.lexsort((IDS, ((X.astype(np.float64) - q) ** 2).sum(1)))[:10]
    assert _exact_ids(q, 10) != [int(i) for i in l2]


def test_exact_mode_rank_identical(spark, ccat):
    q = X[3]
    got = [
        (r["ext_id"], r["score"])
        for r in ann_topk(spark, ccat, q, k=10, metric="cosine", mode="exact", cfg=CFG).collect()
    ]
    assert [i for i, _ in got] == _exact_ids(q, 10)
    s = _cos(q)
    for i, sc in got:
        assert sc == pytest.approx(float(s[i]), abs=1e-9)


@pytest.mark.parametrize("mode", ["ivf", "sq", "pq", "graph"])
def test_derived_modes_containment_and_exact_scores(spark, ccat, mode):
    """Every derived format: results ⊆ exact cosine top-3k (the
    reference's containment criterion) AND returned scores are the TRUE
    cosine (exact rerank from raw flat)."""
    for qi in [0, 42, 311]:
        q = X[qi]
        if mode == "ivf":
            df = ann_topk(spark, ccat, q, k=5, metric="cosine", mode="ivf", cfg=CFG)
        elif mode == "sq":
            df = ann_topk_sq(spark, ccat, q, k=5, cfg=CFG)
        elif mode == "pq":
            df = ann_topk_pq(spark, ccat, q, k=5, cfg=CFG, rerank_factor=6)
        else:
            df = ann_topk_graph(spark, ccat, q, k=5, cfg=CFG)
        got = [(r["ext_id"], r["score"]) for r in df.collect()]
        assert len(got) == 5
        assert set(i for i, _ in got) <= set(_exact_ids(q, 15))
        assert got[0][0] == qi  # self is cosine-nearest to itself
        s = _cos(q)
        for i, sc in got:
            assert sc == pytest.approx(float(s[i]), abs=1e-9)


def test_bq_rerank_cosine(spark, ccat):
    """BQ rescoring under a cosine index returns true cosine scores."""
    from cuvs_lucene_spark.operators.ann import ann_topk_bq

    q = X[42]
    got = [(r["ext_id"], r["score"]) for r in
           ann_topk_bq(spark, ccat, q, k=5, cfg=CFG, rerank_factor=8).collect()]
    assert len(got) == 5
    s = _cos(q)
    for i, sc in got:
        assert sc == pytest.approx(float(s[i]), abs=1e-9)


@pytest.mark.parametrize("mode", ["auto", "ivf", "exact"])
def test_ann_topk_defaults_to_the_build_metric(spark, ccat, mode):
    """A plain ``ann_topk`` on a cosine index searches by cosine, as the
    other search entry points do: it equals the explicit call."""
    plain = ann_topk(spark, ccat, X[42], k=5, mode=mode, cfg=CFG).collect()
    explicit = ann_topk(spark, ccat, X[42], k=5, metric="cosine", mode=mode, cfg=CFG).collect()
    assert plain == explicit


def test_metric_mismatch_rejected(spark, ccat):
    with pytest.raises(ValueError, match="does not match index build metric"):
        ann_topk(spark, ccat, X[0], k=5, metric="l2", mode="ivf", cfg=CFG).collect()


def test_dot_build_rejected(spark, tmp_path):
    dcfg = replace(IndexConfig(), ann=replace(IndexConfig().ann, metric="dot"))
    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="exact scans only"):
        build_ann(spark, df, str(tmp_path / "dot"), dcfg,
                  id_col="vec_id", vector_col="embedding")


def test_knn_join_ivf_cosine(spark, ccat):
    qdf = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in [5, 150, 420]],
        "q_id long, q_vec array<float>",
    )
    rows = knn_join_ivf(spark, ccat, qdf, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["score"]))
    for qid, hits in by_q.items():
        hits.sort()
        assert [v for _, v, _ in hits][0] == qid
        assert set(v for _, v, _ in hits) <= set(_exact_ids(X[qid], 9))
        s = _cos(X[qid])
        for _, v, sc in hits:
            assert sc == pytest.approx(round(float(s[v]), 6), abs=2e-6)


def test_deleted_never_returned_any_mode(spark, tmp_path):
    """TestCuVSDeletedDocuments under COSINE: a tombstoned vector is
    excluded from EVERY search mode."""
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(200)], "vec_id long, embedding array<float>"
    )
    cat = build_ann(spark, df, str(tmp_path / "cdel"), CFG,
                    id_col="vec_id", vector_col="embedding", rows_per_segment=50)
    build_ann_graph(spark, cat, CFG)
    build_ann_pq(spark, cat, CFG)
    victim = _exact_ids(X[9], 1)[0]  # == 9, its own nearest
    delete_ann(spark, cat, [victim])
    for df_res in [
        ann_topk(spark, cat, X[9], k=5, metric="cosine", mode="exact", cfg=CFG),
        ann_topk(spark, cat, X[9], k=5, metric="cosine", mode="ivf", cfg=CFG),
        ann_topk_sq(spark, cat, X[9], k=5, cfg=CFG),
        ann_topk_pq(spark, cat, X[9], k=5, cfg=CFG),
        ann_topk_graph(spark, cat, X[9], k=5, cfg=CFG),
    ]:
        ids = [r["ext_id"] for r in df_res.collect()]
        assert victim not in ids
        assert len(ids) == 5


def test_merge_preserves_cosine(spark, tmp_path):
    """merge_ann with a DEFAULT (l2) cfg must keep the index cosine —
    similarity is per-field index state (writeMeta persists it)."""
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(200)], "vec_id long, embedding array<float>"
    )
    cat = build_ann(spark, df, str(tmp_path / "cmrg"), CFG,
                    id_col="vec_id", vector_col="embedding", rows_per_segment=50)
    merge_ann(spark, cat, IndexConfig(), rows_per_segment=100)  # default l2 cfg
    assert cat.read_manifest()["config"]["ann_metric"] == "cosine"
    got = [r["ext_id"] for r in
           ann_topk(spark, cat, X[17], k=5, metric="cosine", mode="ivf", cfg=CFG).collect()]
    s = _cos(X[17])[:200]
    exact = [int(i) for i in np.lexsort((IDS[:200], -s))[:15]]
    assert got[0] == 17
    assert set(got) <= set(exact)


def test_multi_field_mixed_metrics(spark, tmp_path):
    """One catalog, same column indexed under l2 AND cosine: each field
    searches under its own similarity (per-field meta persistence) and a
    wrong-metric query against a field raises."""
    from cuvs_lucene_spark.operators.ann import (
        ann_topk_field,
        build_ann_fields,
        field_catalog,
    )

    df = spark.createDataFrame(
        [(i, X[i].tolist(), X[i].tolist()) for i in range(200)],
        "vec_id long, emb_l2 array<float>, emb_cos array<float>",
    )
    cat = build_ann_fields(
        spark, df, str(tmp_path / "mixed"), CFG, id_col="vec_id",
        fields={"emb_l2": "l2", "emb_cos": "cosine"}, rows_per_segment=100,
    )
    q = X[9]
    cos_ids = [r["ext_id"] for r in
               ann_topk_field(spark, cat, "emb_cos", q, k=5, metric="cosine",
                              mode="exact", cfg=CFG).collect()]
    s = _cos(q)[:200]
    assert cos_ids == [int(i) for i in np.lexsort((IDS[:200], -s))[:5]]
    l2_ids = [r["ext_id"] for r in
              ann_topk_field(spark, cat, "emb_l2", q, k=5, metric="l2",
                             mode="exact", cfg=CFG).collect()]
    d2 = ((X[:200].astype(np.float64) - q) ** 2).sum(1)
    assert l2_ids == [int(i) for i in np.lexsort((IDS[:200], d2))[:5]]
    assert cos_ids != l2_ids  # the metrics genuinely diverge on this data
    # wrong-metric probe against a field's derived structures is rejected
    with pytest.raises(ValueError, match="does not match index build metric"):
        ann_topk_field(spark, cat, "emb_cos", q, k=5, metric="l2",
                       mode="ivf", cfg=CFG).collect()
    assert field_catalog(cat, "emb_cos").read_manifest()["config"]["ann_metric"] == "cosine"
