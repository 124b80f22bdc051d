"""End-to-end: build index over the testdata corpus, query BM25 top-k,
assert RANK-IDENTICAL docIDs and scores vs the DuckDB oracle (north rule;
stricter than the reference's containment checks, SURVEY.md §5.2)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.bm25 import bm25_topk, boolean_and, fetch_stored, term_docs
from cuvs_lucene_spark.operators.segments import build_index, corpus_stats
from cuvs_lucene_spark.oracle import bm25_sql, boolean_and_sql, term_docs_sql

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=64, block_size=16, prune_range=64, term_buckets=8)


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    root = str(tmp_path_factory.mktemp("idx"))
    return build_index(
        spark, docs, root, CFG, content_col="text", id_col="doc_id"
    )


def _duck(sql):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    return con.sql(sql).fetchall()


def _engine_topk(spark, cat, terms, k=10, mode="or", filter_ext_ids=None):
    df = bm25_topk(spark, cat, terms, k=k, mode=mode, cfg=CFG, filter_ext_ids=filter_ext_ids)
    return [
        (r["ext_id"], round(r["score"], 6))
        for r in df.select("ext_id", F.col("score")).collect()
    ]


QUERIES = [
    (["join"], "or"),                 # hot single term
    (["join", "vector"], "or"),       # two hot terms
    (["spark", "customer", "dup"], "or"),
    (["join", "vector"], "and"),
    (["dup", "slow"], "and"),
    (["zzz_not_in_corpus"], "or"),    # 0-hit
    (["join", "zzz_not_in_corpus"], "or"),
]


@pytest.mark.parametrize("terms,mode", QUERIES)
def test_bm25_rank_identical(spark, cat, terms, mode):
    got = _engine_topk(spark, cat, terms, k=10, mode=mode)
    exp = _duck(bm25_sql(terms, k=10, mode=mode))
    exp = [(i, round(s, 6)) for i, s in exp]
    assert got == exp


def test_bm25_k_boundaries(spark, cat):
    assert _engine_topk(spark, cat, ["join"], k=0) == []
    got1 = _engine_topk(spark, cat, ["join"], k=1)
    exp1 = [(i, round(s, 6)) for i, s in _duck(bm25_sql(["join"], k=1))]
    assert got1 == exp1
    # k larger than number of matches
    got_all = _engine_topk(spark, cat, ["join"], k=10_000)
    exp_all = [(i, round(s, 6)) for i, s in _duck(bm25_sql(["join"], k=10_000))]
    assert got_all == exp_all


def test_term_query(spark, cat):
    got = sorted(r["ext_id"] for r in term_docs(spark, cat, "dup", CFG).collect())
    exp = [r[0] for r in _duck(term_docs_sql("dup"))]
    assert got == exp


def test_boolean_and(spark, cat):
    got = sorted(r["ext_id"] for r in boolean_and(spark, cat, ["dup", "slow"], CFG).collect())
    exp = [r[0] for r in _duck(boolean_and_sql(["dup", "slow"]))]
    assert got == exp


def test_prefilter_semantics(spark, cat):
    """Filter restricts candidates BEFORE top-k (S10): every result satisfies
    the filter and equals the oracle computed with the same pre-filter."""
    allowed = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("ext_id"))
    )
    got = _engine_topk(spark, cat, ["join"], k=10, filter_ext_ids=allowed)
    exp = [(i, round(s, 6)) for i, s in _duck(bm25_sql(["join"], k=10, filter_pred="lang = 'en'"))]
    assert got == exp
    allowed_ids = {r["ext_id"] for r in allowed.collect()}
    assert all(i in allowed_ids for i, _ in got)


def test_stored_field_fetch(spark, cat):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumnRenamed(
        "doc_id", "ext_id"
    )
    topk = bm25_topk(spark, cat, ["join"], k=5, cfg=CFG)
    out = fetch_stored(spark, cat, topk, docs).collect()
    assert len(out) == 5
    assert all(r["text"] is not None and r["score"] > 0 for r in out)


def test_corpus_stats_match_oracle(spark, cat):
    n, avgdl = corpus_stats(cat)
    (exp_n, exp_avgdl) = _duck(
        "SELECT count(*), sum(len(regexp_extract_all(lower(text),'[a-z0-9_]+')))*1.0/count(*) FROM documents"
    )[0]
    assert n == exp_n
    assert abs(avgdl - exp_avgdl) < 1e-9


def test_sha256_invariant(spark, cat):
    """Per-row content sha256 equality vs the source table (input_hint)."""
    dm = cat.read(spark, "doc_map").select("ext_id", "sha256")
    src = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.col("doc_id").alias("ext_id"), F.sha2("text", 256).alias("src_sha"))
    )
    bad = dm.join(src, "ext_id").filter(F.col("sha256") != F.col("src_sha")).count()
    assert bad == 0
    assert dm.count() == src.count()


def test_batch_matches_single(spark, cat):
    """bm25_topk_batch must agree with per-query bm25_topk (and thus the
    oracle) for every query in the batch."""
    from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

    batch = {
        "a": {"terms": ["join"], "mode": "or", "k": 10},
        "b": {"terms": ["join", "vector"], "mode": "or", "k": 7},
        "c": {"terms": ["dup", "slow"], "mode": "and", "k": 10},
        "d": {"terms": ["zzz_not_in_corpus"], "mode": "or", "k": 10},
    }
    rows = bm25_topk_batch(spark, cat, batch, CFG).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["ext_id"], round(r["score"], 6)))
    for qid in by_q:
        by_q[qid] = [(e, s) for _, e, s in sorted(by_q[qid])]
    for qid, spec in batch.items():
        single = _engine_topk(spark, cat, spec["terms"], k=spec["k"], mode=spec["mode"])
        assert by_q.get(qid, []) == single, qid


def test_partition_segmenter_equivalent(spark, cat, tmp_path):
    """The zero-shuffle partition segmenter (input partition ≙ flush batch)
    must answer queries identically to the range segmenter — BM25 results
    are segmentation-invariant."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(4)
    pcat = build_index(
        spark, docs, str(tmp_path / "pidx"), CFG,
        content_col="text", id_col="doc_id", segmenter="partition",
    )
    for terms, mode in [(["join", "vector"], "or"), (["dup", "slow"], "and")]:
        a = _engine_topk(spark, pcat, terms, k=10, mode=mode)
        b = _engine_topk(spark, cat, terms, k=10, mode=mode)
        assert a == b
    # every doc landed in exactly one segment
    assert pcat.read(spark, "doc_map").count() == 500
    assert pcat.read(spark, "doc_map").select("ext_id").distinct().count() == 500


def test_pruning_equals_exhaustive(spark, cat):
    """Block-max range pruning must be exact: tiny prune_range (aggressive
    pruning) vs huge prune_range (no pruning) give identical results."""
    import dataclasses

    cfg_noprune = dataclasses.replace(CFG, prune_range=1 << 30)
    a = _engine_topk(spark, cat, ["join", "vector", "dup"], k=10)
    b = [
        (r["ext_id"], round(r["score"], 6))
        for r in bm25_topk(spark, cat, ["join", "vector", "dup"], k=10, cfg=cfg_noprune).collect()
    ]
    assert a == b


def test_visited_limit_budget(spark, cat):
    """Collector visit-budget contract (GPUPerLeafCuVSKnnCollector.java:
    26-38): a generous budget reproduces the exact result; a tiny budget
    returns a degraded-but-valid subset, never an error."""
    full = _engine_topk(spark, cat, ["join", "vector"], k=10)
    big = [
        (r["ext_id"], round(r["score"], 6))
        for r in bm25_topk(
            spark, cat, ["join", "vector"], k=10, cfg=CFG, visited_limit=10**9
        ).collect()
    ]
    assert big == full
    tiny = bm25_topk(
        spark, cat, ["join", "vector"], k=10, cfg=CFG, visited_limit=1
    ).collect()
    assert 0 <= len(tiny) <= 10
    # every returned (doc, score) is a true exact score (budget only cuts
    # which ranges are visited, each visited range is scored completely)
    exhaustive = {
        (r["ext_id"], round(r["score"], 6))
        for r in bm25_topk(spark, cat, ["join", "vector"], k=10**6, cfg=CFG).collect()
    }
    assert {(r["ext_id"], round(r["score"], 6)) for r in tiny} <= exhaustive


def test_boolean_query_matching_semantics(spark, cat):
    """Full BooleanQuery surface: MUST / SHOULD / MUST_NOT set algebra
    equals the per-doc token-set evaluation, and a pure-negative query is
    rejected (Lucene's rule)."""
    import pytest as _pytest

    import pandas as _pd

    from cuvs_lucene_spark.functions.tokenize import tokenize_py
    from cuvs_lucene_spark.operators.bm25 import (
        boolean_and_not,
        boolean_or,
        boolean_query,
    )

    rows = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    tok_lists = tokenize_py(_pd.Series([r["text"] for r in rows]))
    docs = {r["doc_id"]: set(t) for r, t in zip(rows, tok_lists)}
    got_or = {r["ext_id"] for r in boolean_or(spark, cat, ["join", "vector"], CFG).collect()}
    assert got_or == {i for i, t in docs.items() if t & {"join", "vector"}}
    got_not = {r["ext_id"] for r in
               boolean_and_not(spark, cat, ["dup"], ["slow"], CFG).collect()}
    assert got_not == {i for i, t in docs.items() if "dup" in t and "slow" not in t}
    got_mix = {r["ext_id"] for r in boolean_query(
        spark, cat, must=["dup"], any_of=["join", "vector"], exclude=["slow"],
        cfg=CFG, min_should_match=1).collect()}
    assert got_mix == {
        i for i, t in docs.items()
        if "dup" in t and (t & {"join", "vector"}) and "slow" not in t
    }
    # Lucene Builder DEFAULT msm: 0 with MUST present -> SHOULD optional
    got_dflt = {r["ext_id"] for r in boolean_query(
        spark, cat, must=["dup"], any_of=["join", "vector"], exclude=["slow"],
        cfg=CFG).collect()}
    assert got_dflt == {
        i for i, t in docs.items() if "dup" in t and "slow" not in t
    }
    with _pytest.raises(ValueError):
        boolean_query(spark, cat, exclude=["dup"], cfg=CFG)


def test_boolean_query_randomized_property(spark, cat):
    """Property: for 40 random clause combinations over the corpus vocab,
    boolean_query == per-doc token-set evaluation (one index build, many
    clause sets — the randomized-matrix methodology of the reference's
    TestCuVSRandomizedVectorSearch applied to the boolean surface)."""
    import random

    import pandas as _pd

    from cuvs_lucene_spark.functions.tokenize import tokenize_py
    from cuvs_lucene_spark.operators.bm25 import boolean_query

    rows = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    tok_lists = tokenize_py(_pd.Series([r["text"] for r in rows]))
    docs = {r["doc_id"]: set(t) for r, t in zip(rows, tok_lists)}
    vocab = sorted(set().union(*docs.values()))
    rng = random.Random(99)
    for trial in range(40):
        must = rng.sample(vocab, rng.randint(0, 2))
        any_of = rng.sample(vocab, rng.randint(0, 3))
        exclude = rng.sample(vocab, rng.randint(0, 2))
        if not must and not any_of:
            any_of = [rng.choice(vocab)]
        # random minimumNumberShouldMatch, incl. 0 (non-constraining with
        # MUST present) and > len(any_of) (matches nothing — Lucene rule)
        msm = rng.randint(0, len(any_of) + 1)
        got = {r["ext_id"] for r in boolean_query(
            spark, cat, must=must, any_of=any_of, exclude=exclude, cfg=CFG,
            min_should_match=msm,
        ).collect()}
        m_eff = msm if must else max(1, msm)
        if m_eff > len(any_of):
            exp = set()
        else:
            exp = {
                i for i, t in docs.items()
                if all(m in t for m in must)
                and len(t & set(any_of)) >= m_eff
                and not (t & set(exclude))
            }
        assert got == exp, (trial, must, any_of, exclude, msm)


BQ_SCORED = [
    # (must, should, exclude, msm)
    (["join"], ["vector", "spark"], [], 0),        # MUST + boosting SHOULD
    (["join"], ["vector", "spark", "dup"], ["slow"], 2),  # >=2-of-3 count path
    ([], ["spark", "customer", "dup"], [], 2),     # pure-SHOULD with msm
    (["join", "vector"], [], ["slow"], 0),         # MUST-only with MUST_NOT
    ([], ["join", "zzz_not_in_corpus"], [], 1),    # df-0 SHOULD term dropped
    (["zzz_not_in_corpus"], ["join"], [], 0),      # df-0 MUST -> empty
    ([], ["join"], [], 2),                         # msm > #SHOULD -> empty
]


@pytest.mark.parametrize("must,should,exclude,msm", BQ_SCORED)
def test_bm25_boolean_rank_identical(spark, cat, must, should, exclude, msm):
    """Scored BooleanQuery (BM25 sum over matched positive clauses under
    MUST / >=msm SHOULD / MUST_NOT constraints) is rank-identical to the
    DuckDB oracle, including Lucene's msm edge rules."""
    from cuvs_lucene_spark.operators.bm25 import bm25_boolean_topk
    from cuvs_lucene_spark.oracle import bm25_boolean_sql

    got = [
        (r["ext_id"], round(r["score"], 6))
        for r in bm25_boolean_topk(
            spark, cat, must=must, should=should, exclude=exclude,
            min_should_match=msm, k=10, cfg=CFG,
        ).collect()
    ]
    exp = [(i, round(s, 6)) for i, s in
           _duck(bm25_boolean_sql(must, should, exclude, msm, k=10))]
    assert got == exp


TIER_CASES = {
    "topk_or": lambda B, spark, cat: B.bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG),
    "topk_and": lambda B, spark, cat: B.bm25_topk(
        spark, cat, ["dup", "slow"], k=10, mode="and", cfg=CFG
    ),
    "boosts": lambda B, spark, cat: B.bm25_topk(
        spark, cat, ["join", "vector"], k=10, cfg=CFG, boosts={"vector": 2.0}
    ),
    "boolean": lambda B, spark, cat: B.bm25_boolean_topk(
        spark, cat, must=["join"], should=["vector", "spark", "dup"],
        exclude=["slow"], min_should_match=1, k=10, cfg=CFG,
    ),
    "dismax": lambda B, spark, cat: B.dismax_topk(
        spark, cat, ["spark", "customer", "dup"], 0.3, k=10, cfg=CFG
    ),
    "synonym": lambda B, spark, cat: B.synonym_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG),
    "batch": lambda B, spark, cat: B.bm25_topk_batch(spark, cat, {
        "p": {"terms": ["join", "vector"], "k": 10},
        "b": {"must": ["join"], "should": ["vector", "spark"], "exclude": ["slow"], "k": 10},
    }, CFG),
}


@pytest.mark.parametrize("kind", list(TIER_CASES))
def test_bm25_tier_equality(spark, cat, monkeypatch, spark_tier, kind):
    """Every scored spec kind gives the same rows on the Spark tier's
    broadcast-norms path and on its packed-aux cogroup path (the
    >NORMS_BROADCAST_MAX_DOCS / tombstone path); the boolean case also
    equals the oracle."""
    from cuvs_lucene_spark.operators import bm25 as B
    from cuvs_lucene_spark.oracle import bm25_boolean_sql

    def rows():
        return sorted(tuple(r) for r in TIER_CASES[kind](B, spark, cat).collect())

    fast = rows()
    monkeypatch.setattr(B, "NORMS_BROADCAST_MAX_DOCS", 0)
    assert rows() == fast and fast
    if kind == "boolean":
        got = sorted((e, round(s, 6)) for e, s in fast)
        exp = sorted((i, round(s, 6)) for i, s in _duck(
            bm25_boolean_sql(["join"], ["vector", "spark", "dup"], ["slow"], 1, k=10)
        ))
        assert got == exp


def test_unknown_mode_raises(spark, cat):
    """A mode other than or/and is rejected, never silently scored as OR."""
    from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

    with pytest.raises(ValueError, match="mode"):
        bm25_topk(spark, cat, ["join", "vector"], k=10, mode="AND", cfg=CFG)
    with pytest.raises(ValueError, match="mode"):
        bm25_topk_batch(spark, cat, {"q": {"terms": ["join"], "mode": "xor"}}, CFG).collect()


def test_bm25_boolean_input_validation(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import bm25_boolean_topk

    with pytest.raises(ValueError):
        bm25_boolean_topk(spark, cat, exclude=["dup"], cfg=CFG)
    with pytest.raises(ValueError):
        bm25_boolean_topk(
            spark, cat, must=["dup"], should=["dup"], cfg=CFG
        )
    with pytest.raises(ValueError):
        bm25_boolean_topk(
            spark, cat, must=["dup"], exclude=["dup"], cfg=CFG
        )


def test_bm25_batch_boolean_specs(spark, cat):
    """Batch specs may be scored BooleanQueries: each must agree with the
    single-query bm25_boolean_topk (and thus the oracle), mixed freely
    with plain or/and specs in one batch — including on a repeat run."""
    from cuvs_lucene_spark.operators.bm25 import bm25_boolean_topk, bm25_topk_batch

    batch = {
        "p0": {"terms": ["join"], "mode": "or", "k": 10},
        "b0": {"must": ["join"], "should": ["vector", "spark"], "k": 10},
        "b1": {"must": ["join"], "should": ["vector", "spark", "dup"],
               "exclude": ["slow"], "min_should_match": 2, "k": 10},
        "b2": {"should": ["spark", "customer", "dup"],
               "min_should_match": 2, "k": 10},
        "b3": {"must": ["join", "vector"], "exclude": ["slow"], "k": 10},
        "b4": {"should": ["join"], "min_should_match": 2, "k": 10},  # -> 0 rows
    }
    for _run in range(2):  # a warm repeat answers the same
        rows = bm25_topk_batch(spark, cat, batch, CFG).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["ext_id"], round(r["score"], 6))
            )
        for qid in by_q:
            by_q[qid] = [(e, s) for _, e, s in sorted(by_q[qid])]
        assert by_q.get("p0") == _engine_topk(spark, cat, ["join"], k=10)
        for qid in ("b0", "b1", "b2", "b3", "b4"):
            spec = batch[qid]
            single = [
                (r["ext_id"], round(r["score"], 6))
                for r in bm25_boolean_topk(
                    spark, cat, must=spec.get("must", ()),
                    should=spec.get("should", ()),
                    exclude=spec.get("exclude", ()),
                    min_should_match=spec.get("min_should_match", 0)
                    if "min_should_match" in spec
                    else (0 if spec.get("must") else 1),
                    k=10, cfg=CFG,
                ).collect()
            ]
            assert by_q.get(qid, []) == single, (qid, _run)


def test_bm25_batch_boolean_validation(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

    with pytest.raises(ValueError):
        bm25_topk_batch(
            spark, cat, {"x": {"must": ["a"], "terms": ["b"]}}, CFG
        ).collect()
    with pytest.raises(ValueError):
        bm25_topk_batch(spark, cat, {"x": {"exclude": ["a"]}}, CFG).collect()
    with pytest.raises(ValueError):
        bm25_topk_batch(
            spark, cat, {"x": {"must": ["a"], "exclude": ["a"]}}, CFG
        ).collect()


# ---------------------------------------------------------------------------
# DisjunctionMaxQuery (dismax_topk)
# ---------------------------------------------------------------------------

from cuvs_lucene_spark.operators.bm25 import dismax_topk
from cuvs_lucene_spark.oracle import dismax_sql


@pytest.mark.parametrize(
    "terms,tie",
    [
        (["join", "vector"], 0.0),          # pure max
        (["join", "vector"], 0.3),
        (["spark", "customer", "dup"], 0.5),
        (["join", "zzz_not_in_corpus"], 0.3),  # dead clause drops out
    ],
)
def test_dismax_rank_identical(spark, cat, terms, tie):
    got = [
        (r["ext_id"], round(r["score"], 6))
        for r in dismax_topk(spark, cat, terms, tie_breaker=tie, k=10, cfg=CFG).collect()
    ]
    exp = [(i, round(s, 6)) for i, s in _duck(dismax_sql(terms, tie_breaker=tie, k=10))]
    assert got == exp


def test_dismax_tie1_equals_or_sum(spark, cat):
    """tie_breaker=1 degenerates to the plain disjunction sum — the
    DisjunctionMaxQuery contract's upper endpoint."""
    terms = ["join", "vector", "dup"]
    dm = [
        (r["ext_id"], round(r["score"], 9))
        for r in dismax_topk(spark, cat, terms, tie_breaker=1.0, k=10, cfg=CFG).collect()
    ]
    plain = [
        (r["ext_id"], round(r["score"], 9))
        for r in bm25_topk(spark, cat, terms, k=10, mode="or", cfg=CFG).collect()
    ]
    assert dm == plain


def test_dismax_validation_and_edges(spark, cat):
    with pytest.raises(ValueError, match="tie_breaker"):
        dismax_topk(spark, cat, ["join"], tie_breaker=1.5, k=10, cfg=CFG)
    assert dismax_topk(spark, cat, ["join"], 0.3, k=0, cfg=CFG).count() == 0
    assert dismax_topk(spark, cat, ["zzz_nope"], 0.3, k=10, cfg=CFG).count() == 0
    # duplicate clauses dedupe (a DisMax over {t, t} is just {t})
    a = [tuple(r) for r in dismax_topk(spark, cat, ["join", "join"], 0.3, 10, CFG).collect()]
    b = [tuple(r) for r in dismax_topk(spark, cat, ["join"], 0.3, 10, CFG).collect()]
    assert a == b


# ---------------------------------------------------------------------------
# SynonymQuery, hit_count, match_all
# ---------------------------------------------------------------------------

def test_synonym_rank_identical_and_differs_from_disjunction(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import synonym_topk
    from cuvs_lucene_spark.oracle import synonym_sql

    terms = ["join", "vector"]
    got = [
        (r["ext_id"], round(r["score"], 6))
        for r in synonym_topk(spark, cat, terms, k=10, cfg=CFG).collect()
    ]
    exp = [(i, round(s, 6)) for i, s in _duck(synonym_sql(terms, k=10))]
    assert got == exp
    # merged-tf saturation is NOT the per-term disjunction: scores differ
    dis = dict(_engine_topk(spark, cat, terms, k=10))
    syn = dict(got)
    shared = set(dis) & set(syn)
    assert shared and any(abs(dis[i] - syn[i]) > 1e-6 for i in shared)


def test_synonym_single_term_equals_term_query(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import synonym_topk

    got = [
        (r["ext_id"], round(r["score"], 6))
        for r in synonym_topk(spark, cat, ["join"], k=10, cfg=CFG).collect()
    ]
    assert got == _engine_topk(spark, cat, ["join"], k=10)


def test_synonym_validation(spark, cat):
    with pytest.raises(ValueError, match="synonym"):
        bm25_topk(spark, cat, ["a", "b"], mode="and", cfg=CFG, _synonym=True)


def test_hit_count_matches_boolean_match_set(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import boolean_query, hit_count

    n = hit_count(
        spark, cat, must=["dup"], any_of=["join", "vector"], cfg=CFG
    ).collect()[0]["n_hits"]
    m = boolean_query(
        spark, cat, must=["dup"], any_of=["join", "vector"], cfg=CFG
    ).count()
    assert n == m > 0


def test_match_all_is_live_corpus(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import match_all_docs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["ext_id"] for r in match_all_docs(spark, cat, CFG).collect()}
    assert got == {r["doc_id"] for r in docs.select("doc_id").collect()}


def test_sorted_topk_field_collector(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import sorted_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = [
        (r["ext_id"], r["sort_value"])
        for r in sorted_topk(
            spark, cat, docs, ["join", "vector"], "n_chars", k=5,
            ascending=True, cfg=CFG,
        ).collect()
    ]
    exp = _duck(
        """
        SELECT doc_id, CAST(n_chars AS DOUBLE) FROM documents
        WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9_]+'), 'join')
           OR list_contains(regexp_extract_all(lower(text), '[a-z0-9_]+'), 'vector')
        ORDER BY n_chars ASC, doc_id ASC LIMIT 5
        """
    )
    assert got == exp
    # the plan uses the bounded per-partition top-k collector
    plan = sorted_topk(
        spark, cat, docs, ["join"], "n_chars", k=5, cfg=CFG
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sorted_topk_k_zero(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import sorted_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sorted_topk(spark, cat, docs, ["join"], "n_chars", k=0, cfg=CFG).count() == 0
