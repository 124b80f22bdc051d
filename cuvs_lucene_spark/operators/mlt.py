"""MoreLikeThis — query-by-document (the ``queries/mlt`` Lucene module
the host searcher exposes next to the core query API, SURVEY.md §2.5).

Contract (mirrors ``MoreLikeThis.like(docNum)`` with its documented
defaults): take the seed document's analyzed terms, keep those with
in-doc tf ≥ ``min_term_freq`` and corpus df ≥ ``min_doc_freq`` (optional
``max_doc_freq`` / word-length bounds), rank by
tf × ClassicSimilarity-idf — idf = 1 + ln(N / (df + 1)), the similarity
``MoreLikeThis`` constructs for term selection regardless of the
searcher's — and keep the top ``max_query_terms`` (25). The selected
terms then run as a standard BM25 disjunction (the SCORING_BOOLEAN shape;
per-term boosts are intentionally NOT applied — ``setBoost(false)`` is
MoreLikeThis's default).

Selection scores are rounded to 9 dp before ordering on BOTH the engine
and the SQL-oracle side so a <1-ulp libm difference can never flip which
terms are selected (the retrieval scores themselves go through the usual
6-dp gate).

Physical shape / 100 TB: the seed fetch is ONE pushed id-predicate scan
returning one row (its token multiset is a bounded object — a document,
not a corpus); candidate dfs come from the term-dictionary memo
(``_live_stats_and_df`` — zero jobs on a warm index, one pruned
dictionary scan cold, the tombstone path decodes only the candidates'
postings); retrieval is the stock ``bm25_topk`` single-scan plan. Driver
state is O(seed vocabulary), never O(corpus).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.frames import local_frame
from cuvs_lucene_spark.functions.tokenize import tokenize_expr
from cuvs_lucene_spark.operators.bm25 import (
    _live_stats_and_df,
    _query_postings,
    bm25_topk,
)
from cuvs_lucene_spark.sources.catalog import IndexCatalog

MAX_QUERY_TERMS = 25   # MoreLikeThis.DEFAULT_MAX_QUERY_TERMS
MIN_TERM_FREQ = 2      # MoreLikeThis.DEFAULT_MIN_TERM_FREQ
MIN_DOC_FREQ = 5       # MoreLikeThis.DEFAULT_MIN_DOC_FREQ


def interesting_terms(
    spark: SparkSession,
    cat: IndexCatalog,
    docs: DataFrame,
    seed_id: int,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    max_doc_freq: int | None = None,
    min_word_len: int = 0,
    max_word_len: int = 0,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[str]:
    """The seed doc's top query terms, ranked by tf × (1 + ln(N/(df+1)))
    (``retrieveInterestingTerms`` order), ties broken term-asc. Word-length
    bounds ≤ 0 are disabled (MoreLikeThis defaults)."""
    cfg = cfg or IndexConfig()
    if max_query_terms <= 0:
        return []
    rows = (
        docs.filter(F.col(id_col) == seed_id)
        .select(tokenize_expr(text_col).alias("toks"))
        .collect()
    )
    if not rows:
        raise ValueError(f"seed doc {seed_id} not found")
    tf = Counter(rows[0]["toks"] or [])
    cand = sorted(
        t
        for t, c in tf.items()
        if c >= min_term_freq
        and (min_word_len <= 0 or len(t) >= min_word_len)
        and (max_word_len <= 0 or len(t) <= max_word_len)
    )
    if not cand:
        return []
    postings = _query_postings(spark, cat, cand)
    n, _avgdl, df_by_term = _live_stats_and_df(
        spark, cat, cand, cfg, postings, None
    )
    if n == 0:
        return []
    scored = []
    for t in cand:
        df = df_by_term.get(t, 0)
        if df < max(min_doc_freq, 1):
            continue
        if max_doc_freq is not None and df > max_doc_freq:
            continue
        s = round(tf[t] * (1.0 + math.log(n / (df + 1.0))), 9)
        scored.append((-s, t))
    scored.sort()
    return [t for _, t in scored[:max_query_terms]]


def more_like_this_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    docs: DataFrame,
    seed_id: int,
    k: int = 10,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    max_doc_freq: int | None = None,
    min_word_len: int = 0,
    max_word_len: int = 0,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    filter_ext_ids: DataFrame | None = None,
) -> DataFrame:
    """Docs most like ``seed_id`` → DataFrame(ext_id, score): the selected
    interesting terms run through the standard BM25 disjunction. The seed
    itself is NOT excluded (Lucene leaves that to the caller; it simply
    ranks where its score puts it — typically first)."""
    terms = interesting_terms(
        spark, cat, docs, seed_id, max_query_terms, min_term_freq,
        min_doc_freq, max_doc_freq, min_word_len, max_word_len, cfg,
        id_col, text_col,
    )
    if not terms:
        return local_frame(spark, "ext_id long, score double")
    return bm25_topk(
        spark, cat, terms, k=k, mode="or", cfg=cfg,
        filter_ext_ids=filter_ext_ids,
    )
