"""Round-2 regression tests: prefilter leak on the large-filter path,
IVF small-segment reachability, metric-mismatch validation, SQ search
path, IVF-bucketed kNN join, block-grid / LSH embedding near-dup,
scalable grouped dense rank, streaming replay idempotency, segment-id
namespace disjointness, and threaded query equivalence
(TestMultithreadedCuVSGPUSearch.java:91-133 analogue)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import AnnParams, IndexConfig
from cuvs_lucene_spark.operators import bm25 as bm25_mod
from cuvs_lucene_spark.operators import dedup as dd
from cuvs_lucene_spark.operators.ann import (
    ann_topk,
    ann_topk_sq,
    build_ann,
    knn_join,
    knn_join_ivf,
)
from cuvs_lucene_spark.operators.bm25 import bm25_topk
from cuvs_lucene_spark.operators.segments import (
    PARTITION_BASE,
    build_index,
    grouped_dense_rank,
)
from cuvs_lucene_spark.streaming.ingest import EPOCH_STRIDE, STREAM_BASE, incremental_add

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, prune_range=64, term_buckets=8)


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("r2idx")), CFG,
        content_col="text", id_col="doc_id",
    )


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def acat(spark, vecs, tmp_path_factory):
    return build_ann(
        spark, vecs, str(tmp_path_factory.mktemp("r2ann")), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=100,
    )


@pytest.fixture(scope="module")
def np_vecs(vecs):
    rows = sorted(vecs.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    x = np.array([r["embedding"] for r in rows], dtype=np.float32)
    return ids, x


# ---------------------------------------------------------------- prefilter


def test_prefilter_large_path_no_leak(spark, cat, monkeypatch):
    """S10 contract on the packed-blob (large-filter) path: a segment with
    ZERO allowed docs must contribute NOTHING — a missing 'allowed' aux row
    means empty allowed set, not 'no filter'."""
    monkeypatch.setattr(bm25_mod, "FILTER_BROADCAST_MAX", 0)  # force large path
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # allowed set confined to one segment (ext_id < 100, rows_per_segment=100)
    filt = docs.filter(F.col("doc_id") < 100).select(F.col("doc_id").alias("ext_id"))
    res = bm25_topk(
        spark, cat, ["join", "vector"], k=10, cfg=CFG, filter_ext_ids=filt
    ).collect()
    assert res, "filtered query should still match within the allowed segment"
    assert all(r["ext_id"] < 100 for r in res)
    # parity with the small-filter fast path
    monkeypatch.setattr(bm25_mod, "FILTER_BROADCAST_MAX", 200_000)
    res_small = bm25_topk(
        spark, cat, ["join", "vector"], k=10, cfg=CFG, filter_ext_ids=filt
    ).collect()
    assert [(r["ext_id"], round(r["score"], 9)) for r in res] == [
        (r["ext_id"], round(r["score"], 9)) for r in res_small
    ]


# ---------------------------------------------------------------- ANN paths


def test_ivf_small_segment_fallback(spark, tmp_path):
    """Segments below min_ann_index_size have no IVF rows but MUST stay
    reachable in IVF mode via the brute-force fallback (B2 ladder)."""
    rows = [(i, [float(i)] * 8) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = build_ann(
        spark, df, str(tmp_path / "tinyann"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=4,
    )
    # segment 2 holds only vec 8 (< min_ann_index_size=2) → no IVF rows
    bf = cat.read_manifest()["stages"]["ann_ivf"]["bf_fallback_segments"]
    assert bf == [2]
    got = [
        r["ext_id"]
        for r in ann_topk(spark, cat, [8.0] * 8, k=1, metric="l2", cfg=CFG, mode="ivf").collect()
    ]
    assert got == [8], "vector in the IVF-less segment must be reachable"


def test_ivf_filtered_prefilter(spark, acat, np_vecs):
    """S10 on the IVF path: the filter restricts candidates before top-k
    in every probed list AND in the brute-forced fallback segments."""
    ids, x = np_vecs
    allowed = {int(i) for i in ids if i % 7 == 0}
    got = [
        r["ext_id"]
        for r in ann_topk(
            spark, acat, x[0], k=10, metric="l2", cfg=CFG, mode="ivf",
            filter_ext_ids=allowed,
        ).collect()
    ]
    assert got and all(g in allowed for g in got)
    # containment vs the exact filtered oracle's widened top-k
    mask = np.array([int(i) in allowed for i in ids])
    exact = [i for i, _ in _exact_l2(ids[mask], x[mask], x[0], 30)]
    assert set(got) <= set(exact)


def test_metric_mismatch_rejected(spark, acat):
    """CuVS2510GPUVectorsReader.java:247-255 analogue: querying a derived
    structure under a different similarity function errors; exact mode over
    raw flat vectors supports any metric."""
    with pytest.raises(ValueError, match="mismatch"):
        ann_topk(spark, acat, [0.0] * 64, k=5, metric="cosine", cfg=CFG, mode="ivf")
    # exact brute force over raw floats: any metric is fine
    assert len(ann_topk(spark, acat, [0.0] * 64, k=5, metric="cosine", cfg=CFG, mode="exact").collect()) == 5


def _exact_l2(ids, x, q, k):
    s = 1.0 / (1.0 + ((x.astype(np.float64) - np.asarray(q, np.float64)) ** 2).sum(1))
    order = np.lexsort((ids, -s))[:k]
    return [(int(ids[i]), float(s[i])) for i in order]


def test_sq_topk_contained_and_exactly_rescored(spark, acat, np_vecs):
    """SQ coarse scan + exact rerank: results ⊆ exact top-3k AND every
    returned score equals the exact score (rerank reads the flat storage)."""
    ids, x = np_vecs
    q = x[7]
    got = [(r["ext_id"], r["score"]) for r in ann_topk_sq(spark, acat, q, k=10, cfg=CFG).collect()]
    exact = _exact_l2(ids, x, q, 30)
    exact_ids = {i for i, _ in exact}
    exact_score = dict(exact)
    assert len(got) == 10
    assert {i for i, _ in got} <= exact_ids
    for i, s in got:
        assert abs(s - exact_score[i]) < 1e-9  # exact rescore, not SQ-approximate


def test_knn_join_ivf_matches_exact_at_full_probe(spark, acat, vecs, np_vecs):
    """At test scale every segment has one IVF list, so the bucketed join
    probes exhaustively and must equal the exact L2 kNN join."""
    ids, x = np_vecs
    qdf = vecs.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    got = sorted(
        (r["q_id"], r["rank"], r["vec_id"]) for r in knn_join_ivf(spark, acat, qdf, k=3).collect()
    )
    exp = sorted(
        (r["q_id"], r["rank"], r["vec_id"])
        for r in knn_join(qdf, vecs, k=3, metric="l2").collect()
    )
    assert got == exp


def test_pq_adc_containment_and_exact_rescore(spark, acat, np_vecs):
    """PQ codes (the reference's pqDim/pqBits heuristics made concrete):
    ADC coarse scan contained in exact top-3k, returned scores exactly
    rescored from flat storage; codes deterministic across rebuilds."""
    from cuvs_lucene_spark.operators.ann import ann_topk_pq, build_ann_pq

    ids, x = np_vecs
    build_ann_pq(spark, acat, CFG)
    q = x[11]
    got = [(r["ext_id"], r["score"]) for r in ann_topk_pq(spark, acat, q, k=10, cfg=CFG).collect()]
    exact = _exact_l2(ids, x, q, 30)
    assert len(got) == 10
    assert {i for i, _ in got} <= {i for i, _ in exact}
    exact_score = dict(exact)
    for i, s in got:
        assert abs(s - exact_score[i]) < 1e-9
    # deterministic rebuild: identical codes blob
    row = acat.read(spark, "ann_pq").filter(F.col("segment_id") == 0).collect()[0]
    build_ann_pq(spark, acat, CFG)
    row2 = acat.read(spark, "ann_pq").filter(F.col("segment_id") == 0).collect()[0]
    assert bytes(row["codes"]) == bytes(row2["codes"])
    assert bytes(row["codebook"]) == bytes(row2["codebook"])


def test_multi_field_ann_with_gaps(spark, vecs, np_vecs, tmp_path):
    """Per-field indexes (TestCuVSVectorsFormat.java:82-119) with gap
    semantics (TestCuVSGaps.java:83-94): docs lacking a field are never
    returned for that field."""
    from cuvs_lucene_spark.operators.ann import ann_topk_field, build_ann_fields

    ids, x = np_vecs
    two = vecs.select(
        "vec_id",
        "embedding",
        F.when(F.col("vec_id") % 2 == 0, F.reverse("embedding")).alias("emb_rev"),
    )
    cat = build_ann_fields(
        spark, two, str(tmp_path / "mf"), CFG, id_col="vec_id",
        fields={"embedding": "l2", "emb_rev": "l2"}, rows_per_segment=100,
    )
    q = x[8]
    got_a = [
        r["ext_id"]
        for r in ann_topk_field(spark, cat, "embedding", q, k=5, metric="l2",
                                cfg=CFG, mode="exact").collect()
    ]
    assert got_a == [i for i, _ in _exact_l2(ids, x, q, 5)]
    # field B holds only even ids, reversed coordinates: L2 is permutation-
    # invariant, so querying with the reversed vector must yield the exact
    # top-k restricted to even ids
    got_b = [
        r["ext_id"]
        for r in ann_topk_field(spark, cat, "emb_rev", q[::-1].copy(), k=5,
                                metric="l2", cfg=CFG, mode="exact").collect()
    ]
    even = ids % 2 == 0
    assert got_b == [i for i, _ in _exact_l2(ids[even], x[even], q, 5)]
    assert all(i % 2 == 0 for i in got_b)
    with pytest.raises(ValueError, match="unknown vector field"):
        ann_topk_field(spark, cat, "nope", q, k=5, cfg=CFG)


# ------------------------------------------------------------- near-dup ops


def _exact_pairs(ids, x, threshold):
    x64 = x.astype(np.float64)
    nrm = np.linalg.norm(x64, axis=1)
    cos = (x64 @ x64.T) / np.outer(nrm, nrm)
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if cos[i, j] >= threshold:
                a, b = int(ids[i]), int(ids[j])
                out.add((min(a, b), max(a, b)))
    return out


def test_embedding_near_dup_block_grid_exact(spark, vecs, np_vecs):
    ids, x = np_vecs
    exp = _exact_pairs(ids, x, 0.4)
    got = {
        (r["id_a"], r["id_b"]) for r in dd.embedding_near_dup(vecs, threshold=0.4).collect()
    }
    assert got == exp


def test_embedding_near_dup_lsh_full_recall(spark, vecs, np_vecs):
    """Deterministic seeded LSH at threshold 0.7 with r=4, b=32: expected
    per-pair miss probability ~1e-6 ⇒ result equals the exact pair set for
    this frozen corpus + seed (and precision is exact by construction)."""
    ids, x = np_vecs
    exp = _exact_pairs(ids, x, 0.7)
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_near_dup_lsh(
            vecs, threshold=0.7, bands=32, rows_per_band=4, dim=x.shape[1]
        ).collect()
    }
    assert got == exp


def test_simhash_near_dup_pigeonhole_exact(spark):
    """bands > max_hamming ⇒ the band equi-join is lossless: the result
    must EQUAL the all-pairs hamming scan, not approximate it."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 150
    )
    fps = {r["id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    ids = sorted(fps)
    exp = {
        (ids[i], ids[j], bin(fps[ids[i]] ^ fps[ids[j]]).count("1"))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if bin(fps[ids[i]] ^ fps[ids[j]]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_near_dup(docs, max_hamming=3, bands=4).collect()
    }
    assert got == exp
    with pytest.raises(ValueError, match="bands must exceed"):
        dd.simhash_near_dup(docs, max_hamming=4, bands=4)


# -------------------------------------------------------- grouped dense rank


def test_grouped_dense_rank_matches_pandas(spark):
    rng = np.random.default_rng(7)
    rows = [
        (int(g), int(v))
        for g, v in zip(rng.integers(0, 5, 2000), rng.permutation(2000))
    ]
    df = spark.createDataFrame(rows, "g long, v long")
    ranked, unpersist = grouped_dense_rank(df, ["g"], ["v"], "rk", n_partitions=7)
    got = {(r["g"], r["v"]): r["rk"] for r in ranked.collect()}
    unpersist()
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["g", "v"]).sort_values(["g", "v"])
    pdf["rk"] = pdf.groupby("g").cumcount()
    exp = {(r.g, r.v): r.rk for r in pdf.itertuples()}
    assert got == exp


# ------------------------------------------------------- streaming idempotency


def test_streaming_replay_is_idempotent(spark, tmp_path):
    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cat = IndexCatalog(str(tmp_path / "replay"))
    b0 = docs.filter(F.col("doc_id") < 200)
    b1 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
    incremental_add(spark, cat, b0, CFG, 0, content_col="text", id_col="doc_id")
    incremental_add(spark, cat, b1, CFG, 1, content_col="text", id_col="doc_id")
    n_before = cat.read(spark, "segdata").count()
    topk_before = [(r["ext_id"], round(r["score"], 9)) for r in bm25_topk(spark, cat, ["join"], k=5, cfg=CFG).collect()]
    # redelivery AFTER full commit: stage checkpoint short-circuits
    incremental_add(spark, cat, b1, CFG, 1, content_col="text", id_col="doc_id")
    assert cat.read(spark, "segdata").count() == n_before
    # redelivery after append but BEFORE the stage checkpoint (crash window):
    # the tagged append must REPLACE epoch 1's increment, not duplicate it
    m = cat.read_manifest()
    del m["stages"]["epoch_1"]
    cat._write_manifest(m)
    incremental_add(spark, cat, b1, CFG, 1, content_col="text", id_col="doc_id")
    assert cat.read(spark, "segdata").count() == n_before
    topk_after = [(r["ext_id"], round(r["score"], 9)) for r in bm25_topk(spark, cat, ["join"], k=5, cfg=CFG).collect()]
    assert topk_after == topk_before


def test_segment_namespaces_disjoint():
    """range < PARTITION_BASE ≤ partition < STREAM_BASE ≤ streaming — the
    three segmenter namespaces can never alias (ADVICE round 1)."""
    max_range_seg = 10**12 // 100  # generous ext_id/rows_per_segment bound
    assert max_range_seg < PARTITION_BASE
    max_part_seg = PARTITION_BASE + 10_000 * 100_000 + 99_999  # 10k partitions
    assert max_part_seg < STREAM_BASE
    min_stream_seg = STREAM_BASE + EPOCH_STRIDE
    assert min_stream_seg > max_part_seg


def test_batch_scorer_equals_single_scorer(spark, cat):
    """The batch path and the single-query path (a batch of one, with its
    own global sort instead of the per-query window) must agree exactly
    (ids AND scores) on a randomized query set including AND/OR modes,
    absent terms, and duplicate terms."""
    import random

    from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

    rng = random.Random(1234)
    vocab = ["join", "vector", "spark", "customer", "dup", "slow", "scan",
             "hash", "row", "zzz_absent", "merge", "the"]
    qspecs = {}
    for i in range(12):
        terms = rng.sample(vocab, rng.randint(1, 3))
        if i % 4 == 0:
            terms = terms + [terms[0]]  # duplicate term
        qspecs[f"r{i}"] = {
            "terms": terms,
            "mode": "and" if i % 3 == 0 else "or",
            "k": rng.choice([3, 10, 25]),
        }
    batch = {
        (r["query_id"], r["rank"]): (r["ext_id"], round(r["score"], 9))
        for r in bm25_topk_batch(spark, cat, qspecs, CFG).collect()
    }
    for qid, spec in qspecs.items():
        single = [
            (r["ext_id"], round(r["score"], 9))
            for r in bm25_topk(
                spark, cat, spec["terms"], k=spec["k"], mode=spec["mode"], cfg=CFG
            ).collect()
        ]
        got = [batch[(qid, rk)] for rk in range(1, len(single) + 1) if (qid, rk) in batch]
        assert got == single, f"divergence on {qid}: {spec}"
        assert len([k for k in batch if k[0] == qid]) == len(single)


# ------------------------------------------------------------- concurrency


def test_threaded_queries_identical(spark, cat):
    """TestMultithreadedCuVSGPUSearch analogue: N threads fire the frozen
    query set against one shared index; every thread gets exactly the
    serial result."""
    from concurrent.futures import ThreadPoolExecutor

    queries = [["join", "vector"], ["dup"], ["spark", "customer", "dup"]]

    def run(terms):
        return [
            (r["ext_id"], round(r["score"], 9))
            for r in bm25_topk(spark, cat, terms, k=10, cfg=CFG).collect()
        ]

    serial = [run(t) for t in queries]
    with ThreadPoolExecutor(max_workers=8) as ex:
        futs = [ex.submit(run, queries[i % 3]) for i in range(12)]
        for i, f in enumerate(futs):
            assert f.result() == serial[i % 3]
