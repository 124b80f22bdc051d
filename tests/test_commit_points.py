"""Commit-point (point-in-time) readers — the Lucene IndexCommit /
DirectoryReader.open(commit) semantics: a reader pinned to a past commit
sees the index exactly as it was; later deletes/writes are invisible.
Retention mirrors an IndexDeletionPolicy (last N commits kept)."""

import numpy as np
import pytest

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.ann import ann_topk, build_ann, delete_ann
from cuvs_lucene_spark.operators.bm25 import bm25_topk
from cuvs_lucene_spark.operators.deletes import delete_by_term
from cuvs_lucene_spark.operators.segments import build_index

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=200, block_size=32, term_buckets=8)


def test_commit_point_reader_sees_predelete_state(spark, docs_df, tmp_path):
    cat = build_index(
        spark, docs_df, str(tmp_path / "idx"), CFG,
        content_col="text", id_col="doc_id",
    )
    c_before = cat.commit_points()[-1]
    live_before = [r["ext_id"] for r in
                   bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG).collect()]
    delete_by_term(spark, cat, "join", CFG)
    live_after = [r["ext_id"] for r in
                  bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG).collect()]
    assert live_after != live_before  # deletes took effect on the live view
    pinned = cat.reader_at(c_before)
    pinned_res = [r["ext_id"] for r in
                  bm25_topk(spark, pinned, ["join", "vector"], k=10, cfg=CFG).collect()]
    assert pinned_res == live_before  # point-in-time: pre-delete results


def test_commit_point_reader_ann(spark, tmp_path):
    rng = np.random.default_rng(5)
    x = rng.normal(size=(120, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(120)], "vec_id long, embedding array<float>"
    )
    cat = build_ann(spark, df, str(tmp_path / "ann"), CFG,
                    id_col="vec_id", vector_col="embedding", rows_per_segment=60)
    c0 = cat.commit_points()[-1]
    delete_ann(spark, cat, [7])
    live = [r["ext_id"] for r in
            ann_topk(spark, cat, x[7], k=3, cfg=CFG, mode="exact").collect()]
    assert 7 not in live
    pinned = cat.reader_at(c0)
    old = [r["ext_id"] for r in
           ann_topk(spark, pinned, x[7], k=3, cfg=CFG, mode="exact").collect()]
    assert old[0] == 7  # the deleted vector is visible at the old commit


def test_commit_point_reader_is_read_only_and_bounded(spark, docs_df, tmp_path):
    cat = build_index(
        spark, docs_df.limit(50), str(tmp_path / "ro"), CFG,
        content_col="text", id_col="doc_id",
    )
    pts = cat.commit_points()
    assert pts and len(pts) <= cat.COMMIT_RETENTION  # retention policy holds
    pinned = cat.reader_at(pts[-1])
    with pytest.raises(PermissionError):
        pinned.write(docs_df, "anything")
    with pytest.raises(PermissionError):
        pinned.mark_stage("x")
    with pytest.raises(FileNotFoundError):
        cat.reader_at(999_999)


def test_searcher_manager_analogue_concurrent(spark, docs_df, tmp_path):
    """SearcherManager semantics: a reader pinned BEFORE a writer's commits
    returns bit-identical results from concurrent threads while the live
    index keeps changing underneath it."""
    import threading

    cat = build_index(
        spark, docs_df, str(tmp_path / "sm"), CFG,
        content_col="text", id_col="doc_id",
    )
    pinned = cat.reader_at(cat.commit_points()[-1])
    baseline = [tuple(r) for r in
                bm25_topk(spark, pinned, ["join", "vector"], k=10, cfg=CFG).collect()]

    results, errors = {}, []

    def searcher(tid):
        try:
            for _ in range(3):
                got = [tuple(r) for r in
                       bm25_topk(spark, pinned, ["join", "vector"], k=10, cfg=CFG).collect()]
                assert got == baseline
            results[tid] = True
        except Exception as e:  # pragma: no cover
            errors.append((tid, e))

    threads = [threading.Thread(target=searcher, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    # writer keeps committing while searchers run (deletes mutate the live view)
    delete_by_term(spark, cat, "join", CFG)
    delete_by_term(spark, cat, "vector", CFG)
    for t in threads:
        t.join()
    assert not errors and len(results) == 3
    # live view did change; the pinned view did not
    live = [tuple(r) for r in
            bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG).collect()]
    assert live != baseline
    again = [tuple(r) for r in
             bm25_topk(spark, pinned, ["join", "vector"], k=10, cfg=CFG).collect()]
    assert again == baseline


def _tree(root: str) -> list[str]:
    import os

    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


def test_pinned_reader_df_filter_writes_nothing(spark, tmp_path):
    """A reader pinned by ``reader_at`` answers a ``filter_mode="df"``
    query (the per-segment blob tier, resolved through the pinned commit's
    ``ann_ids`` map) with the closure tier's results, and writes nothing."""
    rng = np.random.default_rng(8)
    x = rng.normal(size=(120, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(120)], "vec_id long, embedding array<float>"
    )
    cat = build_ann(
        spark, df, str(tmp_path / "pin"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=60,
    )
    c0 = cat.commit_points()[-1]
    delete_ann(spark, cat, [8])
    pinned = cat.reader_at(c0)
    before = _tree(cat.root)
    fdf = spark.createDataFrame([(i,) for i in range(0, 120, 2)], "ext_id long")
    got = [r["ext_id"] for r in ann_topk(
        spark, pinned, x[8], k=5, cfg=CFG, mode="exact",
        filter_ext_ids=fdf, filter_mode="df").collect()]
    want = [r["ext_id"] for r in ann_topk(
        spark, pinned, x[8], k=5, cfg=CFG, mode="exact",
        filter_ext_ids=set(range(0, 120, 2))).collect()]
    assert got == want and got[0] == 8  # the later delete is invisible
    assert _tree(cat.root) == before


def test_old_format_catalog_raises(spark, docs_df, tmp_path):
    """A catalog an older writer laid out is refused on open, by the live
    catalog and by ``reader_at``: an ANN manifest with ``ann_format`` 2
    or none, and a text manifest whose ``postings`` is a stored table
    rather than a view of ``segdata``. The undoctored manifests open."""
    import json
    import os

    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    x = np.random.default_rng(3).normal(size=(20, 4)).astype(np.float32)
    ann = build_ann(spark, spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(20)], "vec_id long, embedding array<float>"
    ), str(tmp_path / "ann"), CFG, id_col="vec_id", vector_col="embedding").read_manifest()
    text = build_index(spark, docs_df.limit(20), str(tmp_path / "text"), CFG,
                       content_col="text", id_col="doc_id").read_manifest()

    def v2(m):
        m["config"]["ann_format"] = 2

    def unversioned(m):
        del m["config"]["ann_format"]

    def stored_postings(m):
        m["tables"]["postings"] = {"snapshot": "snap-000001", "n": 1, "history": []}

    def opened(name, m, doctor=None):
        m = json.loads(json.dumps(m))
        if doctor is not None:
            doctor(m)
        root = str(tmp_path / name)
        os.makedirs(os.path.join(root, "_commits"))
        for p in ("manifest.json", "_commits/manifest-000001.json"):
            with open(os.path.join(root, p), "w") as f:
                json.dump(m, f)
        return IndexCatalog(root)

    assert opened("ann_ok", ann).reader_at(1).exists("ann_ids")
    assert opened("text_ok", text).reader_at(1).exists("postings")
    for name, m, doctor, found in (("v2", ann, v2, "format 2 "),
                                   ("none", ann, unversioned, "format None "),
                                   ("stored", text, stored_postings, "text index layout")):
        cat = opened(name, m, doctor)
        for open_ in (cat.read_manifest, lambda: cat.reader_at(1)):
            with pytest.raises(ValueError, match=found) as e:
                open_()
            assert "delete the index and rebuild it" in str(e.value)
            if doctor is not stored_postings:
                assert "this version reads format 3" in str(e.value)


def test_each_ann_write_is_one_commit_point(spark, tmp_path):
    """Every ANN write, and a text epoch, commits all its tables in one
    transaction: each advances the last commit point by exactly 1, so a
    reader pinned before a merge that auto-compacts stays retained and
    answers the pre-merge results."""
    from cuvs_lucene_spark.operators.ann import build_ann_pq, compact_ann, merge_ann
    from cuvs_lucene_spark.sources.catalog import IndexCatalog
    from cuvs_lucene_spark.streaming.ingest import incremental_add, incremental_add_vectors

    x = np.random.default_rng(9).normal(size=(120, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(120)], "vec_id long, embedding array<float>"
    )
    root = str(tmp_path / "one")
    steps = {}

    def step(name, fn, at=root):
        before = (IndexCatalog(at).commit_points() or [0])[-1]
        fn()
        steps[name] = IndexCatalog(at).commit_points()[-1] - before

    step("build_ann", lambda: build_ann(spark, df, root, CFG, id_col="vec_id",
                                        vector_col="embedding", rows_per_segment=40))
    cat = IndexCatalog(root)
    step("build_ann_pq", lambda: build_ann_pq(spark, cat, CFG))
    c0 = cat.commit_points()[-1]

    def top(c, mode):
        return [tuple(r) for r in ann_topk(spark, c, x[7], k=5, cfg=CFG, mode=mode).collect()]

    want = {mode: top(cat, mode) for mode in ("exact", "ivf")}
    # 80 of 120 vectors move: over compact_dropped_fraction, so it compacts
    step("merge_ann", lambda: merge_ann(spark, cat, CFG, tombstone_ext_ids={7},
                                        groups=[[0, 1]], rows_per_segment=40))
    assert not cat.read_manifest()["tables"]["ann_flat"].get("appends")
    assert 7 not in [r[0] for r in top(cat, "exact")]
    pinned = cat.reader_at(c0)
    assert {mode: top(pinned, mode) for mode in want} == want
    step("compact_ann", lambda: compact_ann(spark, cat))
    step("incremental_add_vectors", lambda: incremental_add_vectors(
        spark, cat, df.limit(10), CFG, 0, id_col="vec_id", vector_col="embedding"))
    text = str(tmp_path / "text")
    step("incremental_add", lambda: incremental_add(
        spark, IndexCatalog(text),
        spark.createDataFrame([(1, "red fox")], "doc_id long, text string"),
        CFG, 0, content_col="text", id_col="doc_id"), at=text)
    assert steps == dict.fromkeys(steps, 1) and len(steps) == 6
