"""Faceting (flat + range), MoreLikeThis, and BoostQuery clauses."""

import math
import re
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.bm25 import bm25_topk, bm25_topk_batch, term_docs
from cuvs_lucene_spark.operators.facets import facet_counts, range_facet_counts
from cuvs_lucene_spark.operators.mlt import interesting_terms, more_like_this_topk
from cuvs_lucene_spark.operators.segments import build_index

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=64, block_size=16, prune_range=64, term_buckets=8)


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    root = str(tmp_path_factory.mktemp("idx_fm"))
    return build_index(spark, docs, root, CFG, content_col="text", id_col="doc_id")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _pdocs():
    con = duckdb.connect()
    return con.sql(
        f"SELECT doc_id, text, lang, n_chars FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()


def _toks(text):
    return re.findall(r"[a-z0-9_]+", text.lower())


# ---------------------------------------------------------------------------
# facets
# ---------------------------------------------------------------------------

def test_facet_counts_vs_bruteforce(spark, cat, docs):
    match = term_docs(spark, cat, "data", CFG)
    got = [(r["value"], r["count"]) for r in
           facet_counts(docs, match, "lang").collect()]
    brute = Counter(
        lang for _id, text, lang, _n in _pdocs() if "data" in _toks(text)
    )
    exp = sorted(brute.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == exp


def test_facet_top_n_cut(spark, cat, docs):
    match = term_docs(spark, cat, "data", CFG)
    full = facet_counts(docs, match, "lang").collect()
    top2 = facet_counts(docs, match, "lang", top_n=2).collect()
    assert [tuple(r) for r in top2] == [tuple(r) for r in full[:2]]
    with pytest.raises(ValueError, match="top_n"):
        facet_counts(docs, match, "lang", top_n=0)


def test_facet_empty_match(spark, cat, docs):
    match = term_docs(spark, cat, "zzz_not_in_corpus", CFG)
    assert facet_counts(docs, match, "lang").count() == 0


def test_facet_match_column_contract(spark, cat, docs):
    two_cols = docs.select("doc_id", "lang")
    with pytest.raises(ValueError, match="ext_id"):
        facet_counts(docs, two_cols, "lang")
    # single unnamed column is accepted
    one = docs.filter(F.col("doc_id") < 50).select("doc_id")
    assert facet_counts(docs, one, "lang").count() > 0


def test_range_facets_vs_bruteforce(spark, cat, docs):
    ranges = [("short", 0, 200), ("mid", 201, 400), ("all", 0, 10**9),
              ("empty", 10**8, 10**9)]
    match = term_docs(spark, cat, "data", CFG)
    got = {r["label"]: r["count"] for r in
           range_facet_counts(docs, match, "n_chars", ranges).collect()}
    vals = [n for _id, text, _l, n in _pdocs() if "data" in _toks(text)]
    exp = {lab: sum(1 for v in vals if lo <= v <= hi) for lab, lo, hi in ranges}
    assert got == exp
    assert got["empty"] == 0          # zero-count ranges are reported
    assert got["all"] == len(vals)    # overlapping range counts every doc


def test_range_facets_validation(spark, cat, docs):
    match = term_docs(spark, cat, "data", CFG)
    with pytest.raises(ValueError, match="non-empty"):
        range_facet_counts(docs, match, "n_chars", [])
    with pytest.raises(ValueError, match="unique"):
        range_facet_counts(docs, match, "n_chars", [("a", 0, 1), ("a", 2, 3)])
    with pytest.raises(ValueError, match="lo"):
        range_facet_counts(docs, match, "n_chars", [("a", 5, 1)])


# ---------------------------------------------------------------------------
# MoreLikeThis
# ---------------------------------------------------------------------------

def _brute_interesting(seed_id, max_terms=25, min_tf=2, min_df=5):
    rows = _pdocs()
    n = len(rows)
    seed_tf = Counter(_toks(next(t for i, t, _l, _n in rows if i == seed_id)))
    df = Counter()
    for _i, text, _l, _n in rows:
        for t in set(_toks(text)):
            df[t] += 1
    scored = []
    for t, c in seed_tf.items():
        if c < min_tf or df[t] < min_df:
            continue
        scored.append((-round(c * (1.0 + math.log(n / (df[t] + 1.0))), 9), t))
    scored.sort()
    return [t for _, t in scored[:max_terms]]


def test_interesting_terms_vs_bruteforce(spark, cat, docs):
    got = interesting_terms(spark, cat, docs, 42, cfg=CFG)
    assert got == _brute_interesting(42)
    assert 0 < len(got) <= 25


def test_mlt_seed_ranks_and_matches_disjunction(spark, cat, docs):
    terms = interesting_terms(spark, cat, docs, 42, cfg=CFG)
    got = [
        (r["ext_id"], round(r["score"], 6))
        for r in more_like_this_topk(spark, cat, docs, 42, k=10, cfg=CFG).collect()
    ]
    exp = [
        (r["ext_id"], round(r["score"], 6))
        for r in bm25_topk(spark, cat, terms, k=10, mode="or", cfg=CFG).collect()
    ]
    assert got == exp
    assert got[0][0] == 42  # the seed is its own best match


def test_mlt_edges(spark, cat, docs):
    with pytest.raises(ValueError, match="not found"):
        more_like_this_topk(spark, cat, docs, 10**9, cfg=CFG)
    # impossible df floor -> no interesting terms -> empty result
    assert more_like_this_topk(
        spark, cat, docs, 42, min_doc_freq=10**9, cfg=CFG
    ).count() == 0
    assert interesting_terms(spark, cat, docs, 42, max_query_terms=0, cfg=CFG) == []
    # max_doc_freq excludes the commonest terms
    capped = interesting_terms(spark, cat, docs, 42, max_doc_freq=50, cfg=CFG)
    assert "the" not in capped


# ---------------------------------------------------------------------------
# BoostQuery clauses
# ---------------------------------------------------------------------------

def test_boost_one_is_identity(spark, cat):
    terms = ["join", "vector"]
    a = [tuple(r) for r in bm25_topk(spark, cat, terms, k=10, cfg=CFG).collect()]
    b = [tuple(r) for r in bm25_topk(
        spark, cat, terms, k=10, cfg=CFG, boosts={"join": 1.0}).collect()]
    assert a == b


def test_boost_scales_single_term_scores(spark, cat):
    base = {r["ext_id"]: r["score"] for r in
            bm25_topk(spark, cat, ["join"], k=10, cfg=CFG).collect()}
    boosted = {r["ext_id"]: r["score"] for r in bm25_topk(
        spark, cat, ["join"], k=10, cfg=CFG, boosts={"join": 2.0}).collect()}
    assert set(base) == set(boosted)
    for i, s in base.items():
        assert boosted[i] == pytest.approx(2.0 * s, rel=1e-12)


def test_boost_validation(spark, cat):
    with pytest.raises(ValueError, match="positive"):
        bm25_topk(spark, cat, ["join"], k=10, cfg=CFG, boosts={"join": 0.0})
    with pytest.raises(ValueError, match="positive"):
        bm25_topk(spark, cat, ["join"], k=10, cfg=CFG, boosts={"join": -1})


def test_boost_bypasses_impact_cache(spark, cat):
    """A boosted query scores differently from the plain one, also after
    a repeated batch over the same terms has warmed the query path."""
    batch = {"a": {"terms": ["join", "vector"], "mode": "or", "k": 10}}
    bm25_topk_batch(spark, cat, batch, CFG).count()
    bm25_topk_batch(spark, cat, batch, CFG).count()
    base = {r["ext_id"]: r["score"] for r in
            bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG).collect()}
    boosted = {r["ext_id"]: r["score"] for r in bm25_topk(
        spark, cat, ["join", "vector"], k=10, cfg=CFG,
        boosts={"join": 3.0}).collect()}
    assert any(
        boosted.get(i) != pytest.approx(s) for i, s in base.items()
    ) or set(base) != set(boosted)
