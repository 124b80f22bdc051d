"""The resident ANN tier against the Spark tier.

Single-query searches and ``knn_join_ivf`` batches run in the driver over
the catalog's resident pack while it fits ``RESIDENT_MAX_BYTES``. Both
tiers run the same kernels under the same tie rule, so every mode must
return the same (ext_id, score) list bit for bit, and every join the same
(q_id, rank, vec_id, score) rows — with no filter, a set filter and a
DataFrame filter, after a delete and after a merge. Forcing the budget to
0 selects the Spark tier (as
``test_components_shuffle_tier_equals_broadcast_tier`` forces the shuffle
tier with cap 0).
"""

from __future__ import annotations

import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import dataclasses

import numpy as np
import pytest

import cuvs_lucene_spark.operators.ann as A
import cuvs_lucene_spark.operators.resident as R
from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph
from cuvs_lucene_spark.sources.catalog import IndexCatalog

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
# no auto-compaction: the merged-away segments stay as logical drops
NOCOMPACT = dataclasses.replace(CFG, compact_dropped_fraction=1.0)
N = 301  # segments of 150/150/1: the last has no IVF index (B2)
# one decimal: many equal distances, so the tie rule is exercised
X = np.round(np.random.default_rng(7).normal(size=(N, 8)), 1).astype(np.float32)
Q = X[5] + 0.05

MODES = {
    "exact": lambda s, c, f: A.ann_topk(s, c, Q, k=7, cfg=CFG, mode="exact", filter_ext_ids=f),
    "ivf": lambda s, c, f: A.ann_topk(s, c, Q, k=7, cfg=CFG, mode="ivf", filter_ext_ids=f),
    "sq": lambda s, c, f: A.ann_topk_sq(s, c, Q, k=7, cfg=CFG, filter_ext_ids=f),
    "bq": lambda s, c, f: A.ann_topk_bq(s, c, Q, k=7, cfg=CFG, filter_ext_ids=f),
    "bq_rerank": lambda s, c, f: A.ann_topk_bq(
        s, c, Q, k=7, cfg=CFG, rerank_factor=2, filter_ext_ids=f),
    "pq": lambda s, c, f: A.ann_topk_pq(s, c, Q, k=7, cfg=CFG, filter_ext_ids=f),
    "ivfpq": lambda s, c, f: A.ann_topk_ivfpq(s, c, Q, k=7, cfg=CFG, filter_ext_ids=f),
    "graph": lambda s, c, f: ann_topk_graph(s, c, Q, k=7, cfg=CFG, filter_ext_ids=f),
    "graph_auto_ef": lambda s, c, f: ann_topk_graph(
        s, c, Q, k=7, cfg=CFG, ef=8, auto_ef=True, filter_ext_ids=f),
}
FILTERS = {
    "none": lambda spark: None,
    "set": lambda spark: set(range(0, N, 2)),
    "df": lambda spark: spark.range(0, N, 3).withColumnRenamed("id", "ext_id"),
}


@pytest.fixture(scope="module")
def deleted(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(N)], "vec_id long, embedding array<float>"
    )
    cat = A.build_ann(spark, df, str(tmp_path_factory.mktemp("resident")), CFG,
                      id_col="vec_id", vector_col="embedding", rows_per_segment=150)
    A.build_ann_ivfpq(spark, cat, CFG)  # builds the PQ codebooks first
    build_ann_graph(spark, cat, CFG)
    A.delete_ann(spark, cat, {5, 6, 151, 200}, CFG, auto_merge=False)
    return cat


@pytest.fixture(scope="module")
def merged(spark, deleted):
    """The same catalog, merged: segments 0 and 1 become two new ones
    (dropping the tombstoned rows) and stay on disk as logical drops, the
    B2 segment stays, and a delete after the merge leaves live
    tombstones. The pack is warm before the merge; the reads of the first
    queries after it are recorded."""
    cases = [(m, "none") for m in MODES]
    _run(spark, deleted, cases)
    A.merge_ann(spark, deleted, NOCOMPACT, groups=[[0, 1]])
    A.delete_ann(spark, deleted, {7, 152}, CFG, auto_merge=False)
    reads = []
    real = IndexCatalog.read_arrow

    def counted(self, table, *a, **k):
        reads.append((table, k.get("appends")))
        return real(self, table, *a, **k)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(IndexCatalog, "read_arrow", counted)
        _run(spark, deleted, cases)
    return deleted, reads


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _run(spark, cat, cases) -> dict:
    """(mode, filter) → rows, four cases at a time (the queries are
    latency-bound)."""
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {c: pool.submit(lambda c=c: _rows(MODES[c[0]](spark, cat, FILTERS[c[1]](spark))))
                for c in cases}
        return {c: f.result(timeout=300) for c, f in futs.items()}


def _both_tiers(spark, cat, cases, monkeypatch) -> None:
    """Run each (mode, filter) case on the resident tier (the Spark tier
    poisoned, so a silent fallback fails) and on the Spark tier (budget
    0), and require identical (ext_id, value) lists."""
    with monkeypatch.context() as m:
        m.setattr(A, "_Search", lambda *a, **k: pytest.fail("resident query took the Spark tier"))
        resident = _run(spark, cat, cases)
    with monkeypatch.context() as m:
        m.setattr(R, "RESIDENT_MAX_BYTES", 0)
        tier = _run(spark, cat, cases)
    assert all(resident.values())
    assert {c: v for c, v in resident.items() if v != tier[c]} == {}


def test_tiers_equal_after_delete(spark, deleted, monkeypatch):
    _both_tiers(spark, deleted, [(m, f) for m in MODES for f in FILTERS], monkeypatch)


def test_merge_extends_the_pack(spark, merged):
    """After the merge, each warm table entry reads only the appended
    directory (the dropped segments are filtered in the driver; the
    rewritten tombstones are read whole), and the extended pack answers
    as a cold fill does."""
    cat, reads = merged
    tables = cat.read_manifest()["tables"]
    want = [(t, tuple(tables[t]["appends"][-1:])) for t in A.PACK_TABLES]
    assert sorted(reads) == sorted(want + [("ann_tombstones", None)])
    cold = IndexCatalog(cat.root)
    assert {m: _rows(f(spark, cat, None)) for m, f in MODES.items()} == {
        m: _rows(f(spark, cold, None)) for m, f in MODES.items()}


def test_tiers_equal_after_merge(spark, merged, monkeypatch, tmp_path):
    """Also over a compacted copy. ``ann_graph`` holds a pyarrow-written
    base (the driver build) and a Spark-written merge append, and is read,
    on both tiers and by ``compact_ann``, with one schema."""
    import os
    import shutil

    import pyarrow.parquet as pq

    merged = merged[0]
    assert merged.read_manifest()["tables"]["ann_flat"]["dropped_segments"] == [0, 1]
    assert {
        pq.ParquetFile(os.path.join(d, f)).metadata.created_by.split()[0]
        for d in merged.table_dirs("ann_graph") for f in os.listdir(d) if f.endswith(".parquet")
    } == {"parquet-cpp-arrow", "parquet-mr"}
    names = list(FILTERS)
    cases = [(m, names[i % len(names)]) for i, m in enumerate(MODES)]
    _both_tiers(spark, merged, cases, monkeypatch)
    compacted = IndexCatalog(shutil.copytree(merged.root, str(tmp_path / "compacted")))
    A.compact_ann(spark, compacted)
    assert not compacted.read_manifest()["tables"]["ann_graph"].get("appends")
    _both_tiers(spark, compacted, cases, monkeypatch)
    assert _run(spark, compacted, cases) == _run(spark, merged, cases)


def test_concurrent_first_queries_fill_each_table_once(spark, deleted, monkeypatch):
    """Threads querying a fresh catalog object at once read each pack
    table exactly once, and return the results of a sequential run."""
    cat = IndexCatalog(deleted.root)  # a fresh, empty pack
    reads: Counter = Counter()
    lock = threading.Lock()
    real = IndexCatalog.read_arrow

    def counted(self, table, *a, **k):
        with lock:
            reads[table] += 1
        return real(self, table, *a, **k)

    monkeypatch.setattr(IndexCatalog, "read_arrow", counted)
    modes = ["exact", "ivf", "sq", "bq", "pq", "ivfpq", "graph", "bq_rerank"]
    got: dict = {}
    errors: list = []

    def run(mode):
        try:
            got[mode] = _rows(MODES[mode](spark, cat, None))
        except Exception as e:  # reported by the assertion below
            errors.append((mode, e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(m,)) for m in modes]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert reads == Counter({t: 1 for t in (*A.PACK_TABLES, "ann_tombstones")})
    assert R.pack(cat).nbytes() > 0
    assert got == {m: _rows(MODES[m](spark, cat, None)) for m in modes}


def test_fill_reads_the_manifest_its_key_came_from(spark, tmp_path, monkeypatch):
    """An epoch that commits between a fill's key (its table's manifest
    entry) and its read: the fill reads the directories of that entry, so
    the next query extends the entry by the epoch once and answers as a
    cold catalog does, with no vector held twice."""
    from cuvs_lucene_spark.streaming.ingest import incremental_add_vectors

    def frame(ids, rows):
        return spark.createDataFrame([(int(i), X[r].tolist()) for i, r in zip(ids, rows)],
                                     "vec_id long, embedding array<float>")

    root = str(tmp_path / "race")
    A.build_ann(spark, frame(range(N), range(N)), root, CFG, id_col="vec_id",
                vector_col="embedding", rows_per_segment=150)
    cat = IndexCatalog(root)
    real, raced = R.Pack.get, []

    def racing(self, name, key, *a, **k):
        if name == "ann_flat" and not raced:  # the key is taken: an epoch commits
            raced.append(key)
            incremental_add_vectors(spark, IndexCatalog(root), frame([1005], [5]), CFG, 0,
                                    id_col="vec_id", vector_col="embedding")
        return real(self, name, key, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(R.Pack, "get", racing)
        _rows(MODES["exact"](spark, cat, None))
    assert raced
    got = _rows(MODES["exact"](spark, cat, None))
    assert [r[0] for r in got].count(1005) == 1
    assert got == _rows(MODES["exact"](spark, IndexCatalog(root), None))


# q_id 1 twice (its candidates merge), vector 300 is the B2 segment's, 151
# is tombstoned in ``deleted``
JOIN_QUERIES = [(0, 5), (1, 17), (1, 200), (2, 300), (3, 151)]
JOINS = {
    "none": {},
    "set": {"filter_ext_ids": set(range(0, N, 2))},
    "df": {"filter_ext_ids": "df"},
    "nprobe": {"nprobe": 1},
    "k_over_list": {"k": 160},  # more than a 150-vector list holds
    "k0": {"k": 0},
    "empty": {"queries": []},
}


def _join(spark, cat, case: str, x=X) -> list[tuple]:
    kw = {"k": 7, **JOINS[case]}
    rows = [(q, x[i].tolist()) for q, i in kw.pop("queries", JOIN_QUERIES)]
    qdf = spark.createDataFrame(rows, "q_id long, q_vec array<float>")
    if kw.get("filter_ext_ids") == "df":
        kw["filter_ext_ids"] = FILTERS["df"](spark)
    return sorted(tuple(r) for r in A.knn_join_ivf(spark, cat, qdf, **kw).collect())


def _joins_both_tiers(spark, cat, cases, monkeypatch, x=X) -> None:
    """Each join case on the resident tier (the Spark tier's list scan
    poisoned) and on the Spark tier (budget 0): identical rows."""

    def run():
        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = {c: pool.submit(_join, spark, cat, c, x) for c in cases}
            return {c: f.result(timeout=300) for c, f in futs.items()}

    with monkeypatch.context() as m:
        m.setattr(A, "_attach_aux", lambda *a, **k: pytest.fail("join took the Spark tier"))
        resident = run()
    with monkeypatch.context() as m:
        m.setattr(R, "RESIDENT_MAX_BYTES", 0)
        tier = run()
    assert {c: v for c, v in resident.items() if v != tier[c]} == {}
    assert all(resident[c] for c in cases if c not in ("k0", "empty"))
    assert not any(resident[c] for c in cases if c in ("k0", "empty"))


def test_join_tiers_equal_after_delete(spark, deleted, monkeypatch):
    _joins_both_tiers(spark, deleted, list(JOINS), monkeypatch)
    rows = _join(spark, deleted, "none")
    assert {r[0] for r in rows} == {0, 1, 2, 3}
    assert 151 not in {r[1] for r in rows} and 300 in {r[1] for r in rows}
    assert len([r for r in rows if r[0] == 1]) == 7  # the duplicate q_ids merge


def test_join_tiers_equal_after_merge(spark, merged, monkeypatch):
    _joins_both_tiers(spark, merged[0], ["none", "set", "df"], monkeypatch)


@pytest.fixture(scope="module")
def cosine(spark, tmp_path_factory):
    """A cosine index whose segments hold two IVF lists each (the probe
    ranks lists, an ``nprobe`` of 1 skips one), plus a B2 segment."""
    x = np.round(np.random.default_rng(11).normal(size=(8001, 8)), 1).astype(np.float32)
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(x)],
                               "vec_id long, embedding array<float>")
    cfg = dataclasses.replace(CFG, ann=dataclasses.replace(CFG.ann, metric="cosine"))
    cat = A.build_ann(spark, df, str(tmp_path_factory.mktemp("cosine")), cfg,
                      id_col="vec_id", vector_col="embedding", rows_per_segment=4000)
    return cat, x


def test_join_tiers_equal_cosine(spark, cosine, monkeypatch):
    cat, x = cosine
    assert A._centroid_pack(cat)["n_lists_row"].min() == 2
    _joins_both_tiers(spark, cat, ["none", "set", "nprobe"], monkeypatch, x)
    assert _join(spark, cat, "nprobe", x) != _join(spark, cat, "none", x)


def test_join_over_query_bound_takes_spark_tier(spark, deleted, monkeypatch):
    """A query side of more than ``RESIDENT_JOIN_MAX_QUERIES`` rows runs on
    Spark and returns the resident tier's rows."""
    want = _join(spark, deleted, "none")
    monkeypatch.setattr(R, "RESIDENT_JOIN_MAX_QUERIES", len(JOIN_QUERIES) - 1)
    monkeypatch.setattr(A, "_join_resident", lambda *a, **k: pytest.fail("resident over the bound"))
    assert _join(spark, deleted, "none") == want


def test_join_over_shuffled_query_side_takes_spark_tier(spark, deleted, monkeypatch):
    """A query side behind a shuffle (here a distinct) is not read ahead:
    the limit would run the shuffle in full before the Spark plan runs it
    again. It takes the Spark tier and returns the resident tier's rows."""
    want = _join(spark, deleted, "none")
    rows = [(q, X[i].tolist()) for q, i in JOIN_QUERIES]
    qdf = spark.createDataFrame(rows + rows, "q_id long, q_vec array<float>").distinct()
    monkeypatch.setattr(A, "_join_resident", lambda *a, **k: pytest.fail("resident read ahead"))
    assert sorted(tuple(r) for r in A.knn_join_ivf(spark, deleted, qdf, k=7).collect()) == want


def test_join_rejects_ragged_query_vectors(spark, deleted):
    qdf = spark.createDataFrame([(0, [1.0] * 8), (1, [1.0] * 4), (2, [1.0] * 4)],
                                "q_id long, q_vec array<float>")
    with pytest.raises(ValueError, match="one dimension"):
        A.knn_join_ivf(spark, deleted, qdf, k=3)
