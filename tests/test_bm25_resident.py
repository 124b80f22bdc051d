"""The resident BM25 tier against the Spark tier.

Every scored query and batch runs in the driver over the catalog's
resident pack while segdata's committed bytes fit
``TEXT_RESIDENT_MAX_BYTES``.
Both tiers compute the same live statistics and weights and run the same
kernel under the same tie rule, so every query kind must return the same
(ext_id, score) list bit for bit — with no filter, a set filter (a
driver-built ``LocalRelation``) and a DataFrame filter, on a fresh index,
after a delete and after an append and a merge. Forcing the budget to 0,
or a pack read that fails, selects the Spark tier. The match-only
queries (term, Boolean, count and multi-term match sets) run the same
core and must return the same match sets on both tiers.
"""

from __future__ import annotations

import dataclasses
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

import cuvs_lucene_spark.operators.bm25 as B
import cuvs_lucene_spark.operators.multiterm as M
import cuvs_lucene_spark.operators.resident as R
from cuvs_lucene_spark.config import BM25Params, IndexConfig
from cuvs_lucene_spark.frames import local_frame
from cuvs_lucene_spark.operators.deletes import delete_docs
from cuvs_lucene_spark.operators.merge import merge_segments
from cuvs_lucene_spark.operators.multiterm import TooManyClauses, expand_terms
from cuvs_lucene_spark.operators.segments import build_index
from cuvs_lucene_spark.sources.catalog import IndexCatalog
from cuvs_lucene_spark.streaming.ingest import incremental_add

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
# no auto-compaction: the merged-away segments stay as logical drops
NOCOMPACT = dataclasses.replace(CFG, compact_dropped_fraction=1.0)
# non-default BM25 params: k1 and b reach every norm and contribution
PARAMS = dataclasses.replace(CFG, bm25=BM25Params(k1=0.5, b=0.3))
T = ["join", "vector", "spark"]
BATCH = {
    "p": {"terms": ["join", "vector"], "k": 10},
    "a": {"terms": ["dup", "slow"], "mode": "and", "k": 4},
    "b": {"must": ["join"], "should": ["vector", "spark"], "exclude": ["slow"], "k": 10},
    "none": {"terms": ["zzz_not_in_corpus"], "k": 10},
}

KINDS = {
    "or": lambda s, c, f: B.bm25_topk(s, c, T, k=10, cfg=CFG, filter_ext_ids=f),
    "and": lambda s, c, f: B.bm25_topk(s, c, ["dup", "slow"], k=10, mode="and", cfg=CFG,
                                       filter_ext_ids=f),
    "boosted": lambda s, c, f: B.bm25_topk(s, c, T, k=10, cfg=CFG, boosts={"vector": 2.5},
                                           filter_ext_ids=f),
    "dismax": lambda s, c, f: B.dismax_topk(s, c, ["spark", "customer", "dup"], 0.3, k=10,
                                            cfg=CFG, filter_ext_ids=f),
    "synonym": lambda s, c, f: B.synonym_topk(s, c, ["join", "vector"], k=10, cfg=CFG,
                                              filter_ext_ids=f),
    "boolean": lambda s, c, f: B.bm25_boolean_topk(
        s, c, must=["join"], should=["vector", "spark", "dup"], exclude=["slow"],
        min_should_match=1, k=10, cfg=CFG, filter_ext_ids=f),
    "matches": lambda s, c, f: B.bm25_scored_matches(s, c, T, cfg=CFG, filter_ext_ids=f),
    "visited_limit": lambda s, c, f: B.bm25_topk(s, c, T, k=10, cfg=CFG, visited_limit=30,
                                                 filter_ext_ids=f),
    "batch": lambda s, c, f: B.bm25_topk_batch(s, c, BATCH, CFG),
    "batch_params": lambda s, c, f: B.bm25_topk_batch(s, c, BATCH, PARAMS),
}
# match-only queries (the scoring core with every match kept): each
# match set sorted, hit_count's one count
MATCHES = {
    "term": lambda s, c: B.term_docs(s, c, "dup", CFG),
    "and": lambda s, c: B.boolean_and(s, c, ["dup", "slow"], CFG),
    "or": lambda s, c: B.boolean_or(s, c, T, CFG),
    "and_not": lambda s, c: B.boolean_and_not(s, c, ["join"], ["slow", "dup"], CFG),
    "query": lambda s, c: B.boolean_query(s, c, must=["join"], any_of=["vector", "spark", "dup"],
                                          exclude=["slow"], cfg=CFG, min_should_match=2),
    "overlap": lambda s, c: B.boolean_query(s, c, must=["join"], any_of=["join", "vector"],
                                            exclude=["vector"], cfg=CFG, min_should_match=1),
    "msm_over": lambda s, c: B.boolean_query(s, c, any_of=["join", "vector"], cfg=CFG,
                                             min_should_match=3),
    "hit_count": lambda s, c: B.hit_count(s, c, must=["join"], any_of=["vector", "spark", "dup"],
                                          exclude=["slow"], cfg=CFG, min_should_match=2),
    "prefix": lambda s, c: M.prefix_docs(s, c, "sp", CFG),
    "wildcard": lambda s, c: M.wildcard_docs(s, c, "s?a*", CFG),
    "fuzzy": lambda s, c: M.fuzzy_docs(s, c, "ordre", max_edits=1, cfg=CFG),
    "range": lambda s, c: M.range_docs(s, c, "d", "f", cfg=CFG),
    "regexp": lambda s, c: M.regexp_docs(s, c, "sl.*", CFG),
}
FILTERS = {
    "none": lambda spark: None,
    "set": lambda spark: local_frame(spark, "ext_id long", range(0, 500, 2)),
    "df": lambda spark: spark.range(0, 500, 3).withColumnRenamed("id", "ext_id"),
}


def _cases(rotate: int | None = None) -> list[tuple[str, str]]:
    """Every (kind, filter) pair, or each kind with one filter in turn,
    starting ``rotate`` filters on (a batch takes no filter)."""
    names = list(FILTERS)
    return [(k, f) for i, k in enumerate(KINDS) for f in names if (
        f == "none" if k.startswith("batch") else rotate is None or f == names[(i + rotate) % len(names)])]


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _run(spark, cat, cases) -> dict:
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {c: pool.submit(lambda c=c: _rows(KINDS[c[0]](spark, cat, FILTERS[c[1]](spark))))
                for c in cases}
        return {c: f.result(timeout=300) for c, f in futs.items()}


def _both_tiers(spark, cat, cases, monkeypatch) -> None:
    """Each case on the resident tier (the Spark tier poisoned, so a
    silent fallback fails) and on the Spark tier (budget 0): identical
    (ext_id, score) lists, in order; the unordered match sets sorted."""
    with monkeypatch.context() as m:
        m.setattr(B, "_spark_partials", lambda *a, **k: pytest.fail("took the Spark tier"))
        resident = _run(spark, cat, cases)
    with monkeypatch.context() as m:
        m.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)
        tier = _run(spark, cat, cases)
    for c in [c for c in cases if c[0] == "matches" or c[0].startswith("batch")]:
        resident[c], tier[c] = sorted(resident[c]), sorted(tier[c])
    assert all(resident.values())
    assert {c: v for c, v in resident.items() if v != tier[c]} == {}


def _match_tiers(spark, cat, monkeypatch, matches=MATCHES) -> dict:
    """Each match-only query on the resident tier (the Spark tier
    poisoned) and on the Spark tier (budget 0): the same sorted rows.
    Returns the resident tier's."""
    with monkeypatch.context() as m:
        m.setattr(B, "_spark_partials", lambda *a, **k: pytest.fail("took the Spark tier"))
        resident = {k: sorted(_rows(q(spark, cat))) for k, q in matches.items()}
    with monkeypatch.context() as m:
        m.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)
        tier = {k: sorted(_rows(q(spark, cat))) for k, q in matches.items()}
    assert {k: v for k, v in resident.items() if v != tier[k]} == {}
    return resident


def _reads(spark, cat, fn) -> list:
    """The pack reads (table, appended directories or None) that ``fn``
    makes, and its result."""
    seen = []
    real = IndexCatalog.read_arrow

    def counted(self, table, *a, **k):
        seen.append((table, k.get("appends")))
        return real(self, table, *a, **k)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(IndexCatalog, "read_arrow", counted)
        out = fn()
    return seen, out


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_index(spark, docs, str(tmp_path_factory.mktemp("bm25res")), CFG,
                       content_col="text", id_col="doc_id")


@pytest.fixture(scope="module")
def deleted(spark, cat):
    delete_docs(spark, cat, spark.range(0, 500, 7).withColumnRenamed("id", "ext_id"))
    return cat


@pytest.fixture(scope="module")
def merged(spark, deleted):
    """An epoch appended, then segments 0 and 1 merged (kept on disk as
    logical drops, their tombstones cleared): the pack reads recorded
    right after each commit."""
    cat = deleted
    query = lambda: _rows(KINDS["or"](spark, cat, None))  # noqa: E731
    query()  # the pack is warm before each commit
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    incremental_add(spark, cat, docs.withColumn("doc_id", F.col("doc_id") + 1000), CFG,
                    epoch=0, content_col="text", id_col="doc_id")
    after_add = _reads(spark, cat, query)
    appends = [cat.read_manifest()["tables"]["segdata"]["appends"]]
    merge_segments(spark, cat, NOCOMPACT, groups=[[0, 1]])
    after_merge = _reads(spark, cat, query)
    appends.append(cat.read_manifest()["tables"]["segdata"]["appends"])
    return cat, (after_add, after_merge), appends


def test_tiers_equal_fresh(spark, cat, monkeypatch):
    _both_tiers(spark, cat, _cases(), monkeypatch)


def _check_matches(got: dict) -> None:
    """Every match set but the msm-over-count one holds docs, and
    ``hit_count`` counts its query's match set."""
    assert [k for k, v in got.items() if not v] == ["msm_over"]
    assert got["hit_count"] == [(len(got["query"]),)]


def test_match_sets_tiers_equal_fresh(spark, cat, monkeypatch):
    _check_matches(_match_tiers(spark, cat, monkeypatch))


def test_empty_and_pure_negative_boolean_queries(spark, cat):
    """``boolean_and`` of no terms matches nothing, as an empty Lucene
    ``BooleanQuery`` does; a pure MUST_NOT query raises ``ValueError``
    naming the caller's arguments."""
    empty = B.boolean_and(spark, cat, [], CFG)
    assert empty.schema.simpleString() == "struct<ext_id:bigint>" and empty.collect() == []
    with pytest.raises(ValueError, match=r"\(must / any_of\)"):
        B.boolean_query(spark, cat, exclude=["dup"], cfg=CFG)
    with pytest.raises(ValueError, match=r"\(must / any_of\)"):
        B.hit_count(spark, cat, exclude=["dup"], cfg=CFG)


def test_concurrent_first_queries_fill_the_pack_once(spark, cat):
    """Eight threads querying a fresh catalog object at once read segdata
    exactly once, and return the results of a sequential run."""
    fresh = IndexCatalog(cat.root)
    kinds = ["or", "and", "boosted", "dismax", "synonym", "boolean", "visited_limit", "batch"]
    barrier = threading.Barrier(len(kinds))

    def run(kind):
        barrier.wait(timeout=60)
        return _rows(KINDS[kind](spark, fresh, None))

    def all_at_once():
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=len(kinds)) as pool:
                futs = {k: pool.submit(run, k) for k in kinds}
                return {k: f.result(timeout=300) for k, f in futs.items()}
        finally:
            sys.setswitchinterval(interval)

    seen, got = _reads(spark, fresh, all_at_once)
    assert Counter(t for t, _ in seen) == Counter({"segdata": 1})
    assert R.pack(fresh).nbytes() > 0
    assert got == {k: _rows(KINDS[k](spark, fresh, None)) for k in kinds}


@pytest.mark.parametrize("args", [
    {"prefix": ""}, {"prefix": "zzq"}, {"prefix": "s", "max_expansions": 3}, {"prefix": "s"},
])
def test_expand_terms_tier_equality(spark, cat, monkeypatch, args):
    """The resident dictionary expands a prefix to the same sorted terms
    as the dictionary scan, and raises TooManyClauses alike (an empty
    prefix and a prefix over ``max_expansions``)."""

    def expand():
        try:
            return expand_terms(spark, cat, **args)
        except TooManyClauses as e:
            return str(e)

    resident = expand()
    with monkeypatch.context() as m:
        m.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)
        assert expand() == resident


def test_regex_expansion_takes_the_scan(spark, cat, monkeypatch):
    """A wildcard / regexp pattern is matched by Spark's ``rlike`` (Java's
    dialect) even while the resident dictionary serves prefixes."""
    monkeypatch.setattr(M, "_text_pack", lambda *a: pytest.fail("read the resident dictionary"))
    got = expand_terms(spark, cat, prefix="s", regex="^s[a-d[p-t]].*$")  # a Java set union
    assert got and all(t[1] in "abcdpqrst" for t in got)


def test_failed_fill_takes_the_spark_tier(spark, cat, monkeypatch):
    """A segdata read that fails (say, over the driver's memory)
    does not fail the query: the catalog answers on the Spark tier, with
    the resident tier's results, and is not read again until segdata
    changes."""
    fresh = IndexCatalog(cat.root)
    kinds = ["or", "boolean", "batch"]
    want = {k: _rows(KINDS[k](spark, cat, None)) for k in kinds}
    tried = []
    real = IndexCatalog.read_arrow

    def failing(self, table, columns=None, *a, **kw):
        if table == "segdata" and columns == list(B._TEXT_COLS):  # the pack's read
            tried.append(table)
            raise MemoryError("segdata does not fit the driver")
        return real(self, table, columns, *a, **kw)

    monkeypatch.setattr(IndexCatalog, "read_arrow", failing)
    got = {k: _rows(KINDS[k](spark, fresh, None)) for k in kinds}
    assert expand_terms(spark, fresh, prefix="sp") == expand_terms(spark, cat, prefix="sp")
    got["batch"], want["batch"] = sorted(got["batch"]), sorted(want["batch"])
    assert got == want
    assert tried == ["segdata"]


def test_a_fill_holds_up_only_its_own_entry():
    """While one entry is being read, a hit or a fill of another entry
    (say, ``disk_bytes`` of a table) does not wait for it."""
    pack = R.Pack()
    started, release = threading.Event(), threading.Event()

    def slow():
        started.set()
        assert release.wait(timeout=60)
        return "segdata", 10

    with ThreadPoolExecutor(max_workers=2) as pool:
        first = pool.submit(pack.get, "segdata", ("k",), slow)
        try:
            assert started.wait(timeout=60)
            other = pool.submit(pack.get, ("bytes", "segdata"), ("k",), lambda: (5, 0))
            assert other.result(timeout=10) == 5
            assert pack.get(("bytes", "segdata"), ("k",), lambda: pytest.fail("refilled")) == 5
        finally:
            release.set()
        assert first.result(timeout=60) == "segdata"
    assert pack.get("segdata", ("k",), lambda: pytest.fail("refilled")) == "segdata"
    assert pack.nbytes() == 10


def test_tiers_equal_after_delete(spark, deleted, monkeypatch):
    _both_tiers(spark, deleted, _cases(rotate=1), monkeypatch)
    _rows(KINDS["or"](spark, deleted, None))  # refill what the budget-0 pass released
    sc = spark.sparkContext
    sc.setJobGroup("bm25_resident_deleted", "warm queries after a delete")
    try:
        for kind in ("or", "batch"):
            _rows(KINDS[kind](spark, deleted, None))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("bm25_resident_deleted") == []


def test_match_sets_tiers_equal_after_delete(spark, deleted, monkeypatch):
    got = _match_tiers(spark, deleted, monkeypatch)
    _check_matches(got)
    assert not {e for (e,) in got["or"]} & set(range(0, 500, 7))


@pytest.fixture(scope="module")
def term_deleted(spark, tmp_path_factory):
    """A fresh index with every doc holding "dup" deleted by term."""
    from cuvs_lucene_spark.operators.deletes import delete_by_term

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    c = build_index(spark, docs, str(tmp_path_factory.mktemp("bm25dup")), CFG,
                    content_col="text", id_col="doc_id")
    dup = sorted(_rows(B.term_docs(spark, c, "dup", CFG)))
    assert dup and delete_by_term(spark, c, "dup", CFG) == docs.count() - len(dup)
    return c


def test_wholly_deleted_terms_match_and_veto_nothing(spark, term_deleted, monkeypatch):
    """A must term whose live docs are all deleted matches nothing, and
    an exclude term whose live docs are all deleted vetoes nothing, on
    both tiers."""
    got = _match_tiers(spark, term_deleted, monkeypatch, {
        "term": MATCHES["term"],
        "must": lambda s, c: B.boolean_query(s, c, must=["dup", "join"], cfg=CFG),
        "should": lambda s, c: B.boolean_query(s, c, any_of=["dup", "join"], cfg=CFG,
                                               min_should_match=2),
        "count": lambda s, c: B.hit_count(s, c, must=["dup"], cfg=CFG),
        "or": lambda s, c: B.boolean_or(s, c, ["join"], CFG),
        "exclude": lambda s, c: B.boolean_and_not(s, c, ["join"], ["dup"], CFG),
    })
    assert got["term"] == got["must"] == got["should"] == [] and got["count"] == [(0,)]
    assert got["exclude"] == got["or"] != []


def test_refill_reads_only_new_directories(spark, merged):
    """After an append and after a merge, the warm pack reads only the
    appended directory (the merge's drops are filtered in the driver),
    and the extended pack answers as a cold fill does."""
    cat, (after_add, after_merge), appends = merged
    assert after_add[0] == [("segdata", tuple(appends[0][-1:]))]
    # the merge rewrote the tombstones: that entry is read whole
    assert sorted(after_merge[0]) == [("segdata", tuple(appends[1][-1:])), ("tombstones", None)]
    assert cat.read_manifest()["tables"]["segdata"]["dropped_segments"] == [0, 1]
    cold = IndexCatalog(cat.root)
    for kind in KINDS:
        assert _rows(KINDS[kind](spark, cat, None)) == _rows(KINDS[kind](spark, cold, None))


def test_tiers_equal_after_merge(spark, merged, monkeypatch):
    _both_tiers(spark, merged[0], _cases(rotate=2), monkeypatch)


def test_match_sets_tiers_equal_after_merge(spark, merged, monkeypatch):
    _check_matches(_match_tiers(spark, merged[0], monkeypatch))


def test_spark_tier_buckets_by_the_index_term_buckets(spark, cat, monkeypatch):
    """The postings scan prunes by the ``term_buckets`` the index was
    built with (8 here), not the caller's: a query with the default
    config finds the same 10 docs on both tiers."""
    default = IndexConfig(rows_per_segment=100)
    assert default.term_buckets != CFG.term_buckets
    resident = _rows(B.bm25_topk(spark, cat, T, k=10, cfg=default))
    with monkeypatch.context() as m:
        m.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)
        tier = _rows(B.bm25_topk(spark, cat, T, k=10, cfg=default))
    assert len(resident) == 10
    assert tier == resident


def test_first_epoch_records_the_index_term_buckets(spark, tmp_path, monkeypatch):
    """A first epoch on a fresh root records the config build_index
    records, so a later query with a different ``term_buckets`` prunes the
    postings by the epoch's 8 buckets and finds the same docs on both
    tiers."""
    cat = IndexCatalog(str(tmp_path / "epoch"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    incremental_add(spark, cat, docs, CFG, epoch=0, content_col="text", id_col="doc_id")
    built = build_index(spark, docs, str(tmp_path / "built"), CFG, content_col="text",
                        id_col="doc_id")
    assert cat.read_manifest()["config"] == built.read_manifest()["config"]
    default = IndexConfig(rows_per_segment=100)
    resident = _rows(B.bm25_topk(spark, cat, T, k=10, cfg=default))
    with monkeypatch.context() as m:
        m.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)
        tier = _rows(B.bm25_topk(spark, cat, T, k=10, cfg=default))
    assert len(resident) == 10
    assert tier == resident
