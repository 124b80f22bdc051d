"""Multi-table catalog transactions (``IndexCatalog.transaction``).

Every ANN write (build, format build, epoch, merge, compaction) and every
text epoch stages all its tables and stages in one working manifest and
commits them in ONE manifest swap — the Delta Lake one-log-version-per-
transaction model, and the reference's per-segment format files sealed
together at ``finish()``. A failure after some tables were staged must
leave the index exactly as it was (manifest, every search mode, the kNN
join and phrase queries), and the retried operation must equal one that
never crashed.
"""

from __future__ import annotations

import shutil
import sys

import numpy as np
import pyarrow as pa
import pytest

import cuvs_lucene_spark.operators.ann as A
from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph, build_ann_graph
from cuvs_lucene_spark.operators.bm25 import bm25_topk
from cuvs_lucene_spark.operators.positions import build_positions, phrase_match
from cuvs_lucene_spark.operators.segments import build_index
from cuvs_lucene_spark.sources.catalog import IndexCatalog
from cuvs_lucene_spark.streaming.ingest import incremental_add, incremental_add_vectors

CFG = IndexConfig(rows_per_segment=40, block_size=16, term_buckets=8)
N = 120  # three segments of 40
X = np.round(np.random.default_rng(5).normal(size=(N, 8)), 1).astype(np.float32)
Q = X[5] + 0.05
TCFG = IndexConfig(rows_per_segment=6, block_size=8)
DOCS = [(i, "red fox red fox" if i % 3 == 0 else "red then fox") for i in range(40)]


def test_transaction_stages_then_swaps_once(tmp_path):
    """Inside a transaction, reads see the staged tables, stages and
    config while the live manifest does not; the block's end swaps once
    and prunes what no entry references; a failing block swaps nothing."""
    cat = IndexCatalog(str(tmp_path / "c"))
    rows = pa.table({"segment_id": pa.array([1, 2], pa.int64())})
    cat.write(rows, "t")
    assert cat.commit_points() == [1]
    with cat.transaction() as tx:
        tx.append(rows, "t", tag="a")
        tx.write(rows, "u")
        tx.mark_stage("s")
        tx.set_config({"k": 1})
        with tx.transaction() as inner:  # a nested transaction joins
            inner.write(rows, "t")
        assert tx.exists("u") and tx.stage_done("s") and tx.read_arrow("t").num_rows == 2
        assert not cat.exists("u") and not cat.stage_done("s")
        assert cat.commit_points() == [1]
    m = cat.read_manifest()
    assert cat.commit_points() == [1, 2]
    assert m["config"] == {"k": 1} and m["stages"]["s"]["status"] == "done"
    assert cat.read_arrow("t").num_rows == 2  # the rewrite superseded the append
    assert sorted(p.name for p in (tmp_path / "c" / "t").iterdir()) == \
        ["snap-000001", "snap-000003"]  # the staged increment is pruned
    with pytest.raises(RuntimeError, match="fail"):
        with cat.transaction() as tx:
            tx.write(rows, "v")
            raise RuntimeError("fail")
    assert cat.read_manifest() == m and cat.commit_points() == [1, 2]


def test_concurrent_puts_and_transactions_lose_no_entry(tmp_path):
    """Eight threads (more than the cores) stage distinct tables into one
    transaction, and eight more each commit their own transaction over a
    distinct table, with a short switch interval: every entry lands, the
    shared transaction swaps once and each other one swaps once."""
    cat = IndexCatalog(str(tmp_path / "c"))
    rows = pa.table({"segment_id": pa.array([1], pa.int64())})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with cat.transaction() as tx:
            A._concurrently(*(lambda i=i: tx.write(rows, f"a{i}") for i in range(8)))
        A._concurrently(*(lambda i=i: cat.write(rows, f"b{i}") for i in range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert sorted(cat.read_manifest()["tables"]) == sorted(
        [f"a{i}" for i in range(8)] + [f"b{i}" for i in range(8)])
    assert cat.read_manifest()["commit_n"] == 9


@pytest.fixture(scope="module")
def ann_root(spark, tmp_path_factory) -> str:
    """Every format over three segments, with two live tombstones."""
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(N)], "vec_id long, embedding array<float>"
    )
    cat = A.build_ann(spark, df, str(tmp_path_factory.mktemp("tx") / "ann"), CFG,
                      id_col="vec_id", vector_col="embedding", rows_per_segment=40)
    A.build_ann_ivfpq(spark, cat, CFG)  # builds the PQ codebooks first
    build_ann_graph(spark, cat, CFG)
    A.delete_ann(spark, cat, {6, 45}, CFG, auto_merge=False)
    return cat.root


@pytest.fixture(scope="module")
def text_root(spark, tmp_path_factory) -> str:
    """A small text index with a positions sidecar."""
    docs = spark.createDataFrame(DOCS[:20], "doc_id long, text string")
    cat = build_index(spark, docs, str(tmp_path_factory.mktemp("tx") / "text"), TCFG,
                      content_col="text", id_col="doc_id")
    build_positions(spark, cat, docs, TCFG)
    return cat.root


def _ann_answers(spark, cat) -> dict:
    """Every ANN mode's result list (one with a DataFrame filter) and a
    kNN join's rows."""
    qdf = spark.createDataFrame([(0, X[5].tolist()), (1, X[50].tolist())],
                                "q_id long, q_vec array<float>")
    calls = {
        "exact": lambda: A.ann_topk(spark, cat, Q, k=6, mode="exact"),
        "ivf": lambda: A.ann_topk(spark, cat, Q, k=6, mode="ivf"),
        "ivf_df_filter": lambda: A.ann_topk(  # through the ann_ids map
            spark, cat, Q, k=6, mode="ivf", filter_mode="df",
            filter_ext_ids=spark.range(0, 2 * N, 2).withColumnRenamed("id", "ext_id")),
        "sq": lambda: A.ann_topk_sq(spark, cat, Q, k=6),
        "bq": lambda: A.ann_topk_bq(spark, cat, Q, k=6),
        "bq_rerank": lambda: A.ann_topk_bq(spark, cat, Q, k=6, rerank_factor=2),
        "pq": lambda: A.ann_topk_pq(spark, cat, Q, k=6),
        "ivfpq": lambda: A.ann_topk_ivfpq(spark, cat, Q, k=6),
        "graph": lambda: ann_topk_graph(spark, cat, Q, k=6),
        "join": lambda: A.knn_join_ivf(spark, cat, qdf, k=4),
    }
    return {m: sorted(tuple(r) for r in f().collect()) if m == "join"
            else [tuple(r) for r in f().collect()] for m, f in calls.items()}


def _text_answers(spark, cat) -> dict:
    return {
        "phrase": sorted(tuple(r) for r in
                         phrase_match(spark, cat, ["red", "fox"], TCFG).collect()),
        "bm25": [tuple(r) for r in bm25_topk(spark, cat, ["fox"], k=50, cfg=TCFG).collect()],
    }


def _entries(cat) -> tuple:
    """The manifest's tables (less commit times) and stage names."""
    m = cat.read_manifest()
    return ({t: {k: v for k, v in e.items() if k != "committed_at"}
             for t, e in m["tables"].items()}, sorted(m["stages"]))


def _crash_then_retry(spark, tmp_path, root, method, op, answers) -> None:
    """Run ``op`` on a copy of ``root`` with the second call of
    ``IndexCatalog.<method>`` failing (the first staged its put): the
    manifest's tables and stages and every answer stay the pre-op ones;
    then the retried op equals ``op`` on an uncrashed copy."""
    crash, clean = (IndexCatalog(shutil.copytree(root, str(tmp_path / n)))
                    for n in ("crash", "clean"))
    before, want = crash.read_manifest(), answers(spark, crash)
    real, calls = getattr(IndexCatalog, method), []

    def second_fails(self, *args, **kwargs):
        calls.append(args[1])
        if len(calls) > 1:
            raise RuntimeError("simulated crash")
        return real(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(IndexCatalog, method, second_fails)
        with pytest.raises(RuntimeError, match="simulated crash"):
            op(crash)
    after = crash.read_manifest()
    assert (after["tables"], after["stages"]) == (before["tables"], before["stages"])
    assert answers(spark, crash) == want
    assert answers(spark, IndexCatalog(crash.root)) == want  # a cold pack too
    op(crash)
    op(clean)
    assert _entries(crash) == _entries(clean)
    assert answers(spark, crash) == answers(spark, clean)


def test_merge_crash_publishes_nothing(spark, tmp_path, ann_root):
    """A crash after merge_ann staged ann_flat's append (the ids append
    fails): no part of the merge is visible. The retry also clears the
    merged segments' tombstones and auto-compacts (80 of 120 dropped)."""
    _crash_then_retry(
        spark, tmp_path, ann_root, "append",
        lambda cat: A.merge_ann(spark, cat, CFG, groups=[[0, 1]], rows_per_segment=40),
        _ann_answers,
    )


def test_vector_epoch_crash_publishes_nothing(spark, tmp_path, ann_root):
    """A crash after an ANN epoch staged ann_flat's append: none of the
    epoch's vectors (each near the query) is visible."""
    near = spark.createDataFrame(
        [(1000 + i, (X[i] + 0.01).tolist()) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    _crash_then_retry(
        spark, tmp_path, ann_root, "append",
        lambda cat: incremental_add_vectors(spark, cat, near, CFG, 0,
                                            id_col="vec_id", vector_col="embedding"),
        _ann_answers,
    )


def test_text_epoch_crash_publishes_nothing(spark, tmp_path, text_root):
    """A crash after a text epoch staged its segdata append (the
    positions append fails): neither the epoch's docs nor its positions
    are visible, and its stage is not done."""
    epoch = spark.createDataFrame(DOCS[20:], "doc_id long, text string")
    _crash_then_retry(
        spark, tmp_path, text_root, "append",
        lambda cat: incremental_add(spark, cat, epoch, TCFG, 0,
                                    content_col="text", id_col="doc_id"),
        _text_answers,
    )
