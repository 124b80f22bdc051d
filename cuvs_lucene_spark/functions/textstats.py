"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All are pure Catalyst expressions (codegen'd, no Python in the hot path)
with exact DuckDB-SQL oracle equivalents. Heuristics are deliberately
simple and FROZEN — deterministic outputs matter more than linguistic
sophistication for pipeline correctness testing.

:func:`quality_score` and :func:`repetition_stats` have a driver tier:
on at most ``segments.DRIVER_FLUSH_MAX_DOCS`` rows with ``long`` ids none
null or repeated and no null text, the input is read once
(``frames.small_keyed``) and one numpy kernel computes the same rows
(``tokenize_py``, Spark's HALF_UP ``round``), returned as a
``frames.LocalResult`` with no Spark job.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_lucene_spark.frames import arrow_frame, round_half_up, small_keyed
from cuvs_lucene_spark.functions.tokenize import doclen_expr, ngrams_py, tokenize_expr, tokenize_py
from cuvs_lucene_spark.operators import segments as S

# Frozen per-language marker token lists (top function words). A token
# votes for every language whose list contains it; argmax wins, ties break
# alphabetically, zero votes → 'und'.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["this", "with", "as", "on", "was", "at", "by", "an", "be", "are"]


def token_count_expr(text_col: str):
    """Regex token count (the BPE-ish proxy: one token per [a-z0-9_]+ run)."""
    return doclen_expr(text_col)


def whitespace_token_count_expr(text_col: str):
    """Whitespace-split token count."""
    c = F.trim(F.col(text_col))
    return F.when(c == "", F.lit(0)).otherwise(
        F.size(F.split(c, r"\s+"))
    )


def lang_votes_expr(text_col: str, lang: str):
    toks = tokenize_expr(text_col)
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, pred_lang): n-gram/function-word language heuristic."""
    langs = sorted(LANG_MARKERS)
    votes = docs.select(
        F.col(id_col).alias("id"),
        *[lang_votes_expr(text_col, lg).alias(f"v_{lg}") for lg in langs],
    )
    best = F.greatest(*[F.col(f"v_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:  # alphabetical order → deterministic tie-break
        pred = pred.when(F.col(f"v_{lg}") == best, F.lit(lg))
    return votes.select("id", pred.alias("pred_lang"))


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, mean_token_len, stopword_ratio, alnum_ratio, quality).

    quality ∈ [0,1]: 0.25·len_ok + 0.25·mean_token_len_ok +
    0.25·stopword_presence + 0.25·alnum_ratio — a frozen, deterministic
    document-quality heuristic (length/punctuation/stopword mix).
    Small inputs take the driver tier (:func:`_quality_rows`).
    """
    small = small_keyed(docs, id_col, [text_col], S.DRIVER_FLUSH_MAX_DOCS)
    if small is not None:
        return arrow_frame(docs.sparkSession, _quality_rows(*small))
    toks = tokenize_expr(text_col)
    n_tok = F.size(toks)
    txt_len = F.length(F.col(text_col))
    alnum_chars = F.length(F.array_join(toks, ""))
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    mean_tok_len = F.when(n_tok > 0, alnum_chars / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    alnum_ratio = F.when(txt_len > 0, alnum_chars / txt_len).otherwise(F.lit(0.0))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100_000), F.lit(1.0)).otherwise(F.lit(0.0))
    tl_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stop_ratio > 0.0, F.lit(1.0)).otherwise(F.lit(0.0))
    quality = 0.25 * len_ok + 0.25 * tl_ok + 0.25 * stop_ok + 0.25 * alnum_ratio
    return docs.select(
        F.col(id_col).alias("id"),
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alnum_ratio, 6).alias("alnum_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def _quality_rows(ids: np.ndarray, texts: pd.Series) -> pa.Table:
    """:func:`quality_score`'s driver kernel: the same ratios and sum, in
    the Spark plan's order of operations."""
    toks = tokenize_py(texts)
    n_tok = np.fromiter(map(len, toks), np.int64, len(toks))
    alnum = np.fromiter((sum(map(len, t)) for t in toks), np.int64, len(toks))
    stops = frozenset(EN_STOPWORDS)
    n_stop = np.fromiter((sum(w in stops for w in t) for t in toks), np.int64, len(toks))
    txt_len = np.fromiter(map(len, texts), np.int64, len(texts))
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = np.where(n_tok > 0, alnum / n_tok, 0.0)
        stop = np.where(n_tok > 0, n_stop / n_tok, 0.0)
        alnum_ratio = np.where(txt_len > 0, alnum / txt_len, 0.0)
    len_ok = ((n_tok >= 10) & (n_tok <= 100_000)).astype(np.float64)
    tl_ok = ((mean >= 2.0) & (mean <= 12.0)).astype(np.float64)
    stop_ok = (stop > 0.0).astype(np.float64)
    quality = 0.25 * len_ok + 0.25 * tl_ok + 0.25 * stop_ok + 0.25 * alnum_ratio
    return pa.table({
        "id": ids, "n_tokens": n_tok.astype(np.int32),
        "mean_token_len": round_half_up(mean, 6), "stopword_ratio": round_half_up(stop, 6),
        "alnum_ratio": round_half_up(alnum_ratio, 6), "quality": round_half_up(quality, 6),
    })


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fingerprint): md5 over the canonical token stream —
    case/punctuation-invariant exact-content fingerprint."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.md5(F.array_join(tokenize_expr(text_col), " ")).alias("fingerprint"),
    )


# BPE-ish subword segmentation (GPT-2-style pattern, lookahead-free so the
# SAME regex runs under Java regex (Spark) and RE2 (DuckDB)): contraction
# suffixes, letter runs, digit runs, and non-alnum-non-space runs each
# count as one subword unit.
SUBWORD_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s']+"


def subword_count_expr(text_col: str):
    """BPE-ish subword-unit count (deterministic tokenizer proxy for
    budget estimation in training-data pipelines). The pattern rides a
    ``lit`` column, not a SQL string literal — SQL escaping would silently
    strip the ``\\s`` class."""
    return F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(SUBWORD_PATTERN), F.lit(0)
        )
    )


def repetition_stats(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_grams: int = 10,
    top_frac_max: float = 0.2,
) -> DataFrame:
    """(id, n_grams, top_gram_frac, distinct_gram_frac, repetitive):
    within-document n-gram repetition — the Gopher-style quality rule
    ("fraction of the document made of its most common n-gram"; Rae et
    al. 2021 drop docs whose top-2-gram fraction exceeds 0.20).

    ``repetitive`` = n_grams ≥ min_grams AND top_gram_frac > top_frac_max
    (short docs are never flagged — too few grams to judge).

    100 TB shape: pure Catalyst higher-order functions, NO shuffle and
    no UDF — grams are built per row, ``sort_array`` groups equal grams
    adjacently, and ONE ``aggregate`` pass extracts the max run length
    (= top gram count) and the distinct count. Cost is O(tokens log
    tokens) per row inside codegen; embarrassingly parallel, zero
    intermediate tables — unlike the explode→groupBy shape, nothing ∝
    corpus grams ever hits the wire."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    small = small_keyed(docs, id_col, [text_col], S.DRIVER_FLUSH_MAX_DOCS)
    if small is not None:
        return arrow_frame(docs.sparkSession,
                           _repetition_rows(*small, n, min_grams, top_frac_max))
    tok = f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)"
    # token array bound once (single-element transform wrapper) with O(1)
    # element_at per slot: the old slice-in-lambda spelling re-ran the
    # tokenizer regexp and copied a sub-array per gram position
    _parts = ", ".join(f"element_at(tk, i + {j})" for j in range(n))
    grams = (
        f"CASE WHEN size({tok}) >= {n} THEN "
        f"sort_array(flatten(transform(array({tok}), tk -> "
        f"transform(sequence(1, size(tk) - {n - 1}), "
        f"i -> concat_ws(' ', {_parts}))))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    # one fold over the sorted grams: (prev, current run, best run, #distinct)
    folded = (
        "aggregate(_grams, "
        "struct(CAST('' AS string) AS prev, 0L AS run, 0L AS best, 0L AS dist), "
        "(a, x) -> struct(x, "
        "  IF(x = a.prev, a.run + 1, 1L), "
        "  greatest(a.best, IF(x = a.prev, a.run + 1, 1L)), "
        "  a.dist + IF(x = a.prev, 0L, 1L)), "
        "a -> struct(a.best AS best, a.dist AS dist))"
    )
    # three-step projection so the physical plan evaluates each expensive
    # tree ONCE: Spark skips subexpression elimination for trees holding a
    # LambdaVariable, and CollapseProject keeps a multi-referenced
    # non-cheap producer in its own Project — so materializing the gram
    # array, then the folded struct + size, then deriving the four output
    # columns, turns ~7 gram builds + ~3 folds per row into 1 + 1
    # (results unchanged; the derivations are the same expressions)
    step1 = docs.select(F.col(id_col).alias("id"), F.expr(grams).alias("_grams"))
    step2 = step1.select(
        "id",
        F.size("_grams").cast("long").alias("_total"),
        F.expr(folded).alias("_f"),
    )
    total = F.col("_total")
    best = F.col("_f.best")
    dist = F.col("_f.dist")
    top_frac = F.when(total > 0, best / total).otherwise(F.lit(0.0))
    dist_frac = F.when(total > 0, dist / total).otherwise(F.lit(0.0))
    return step2.select(
        F.col("id"),
        total.alias("n_grams"),
        F.round(top_frac, 6).alias("top_gram_frac"),
        F.round(dist_frac, 6).alias("distinct_gram_frac"),
        ((total >= int(min_grams)) & (top_frac > float(top_frac_max))).alias(
            "repetitive"
        ),
    )


def _repetition_rows(ids: np.ndarray, texts: pd.Series, n: int, min_grams: int,
                     top_frac_max: float) -> pa.Table:
    """:func:`repetition_stats`' driver kernel: each doc's n-gram counts
    give its gram total, top count and distinct count."""
    counts = [Counter(ngrams_py(t, n)).values() for t in tokenize_py(texts)]
    total = np.fromiter(map(sum, counts), np.int64, len(counts))
    best = np.fromiter((max(c, default=0) for c in counts), np.int64, len(counts))
    dist = np.fromiter(map(len, counts), np.int64, len(counts))
    with np.errstate(divide="ignore", invalid="ignore"):
        top_frac = np.where(total > 0, best / total, 0.0)
        dist_frac = np.where(total > 0, dist / total, 0.0)
    return pa.table({
        "id": ids, "n_grams": total,
        "top_gram_frac": round_half_up(top_frac, 6),
        "distinct_gram_frac": round_half_up(dist_frac, 6),
        "repetitive": (total >= int(min_grams)) & (top_frac > float(top_frac_max)),
    })


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 7,
    w: int = 8,
) -> DataFrame:
    """Rolling-hash document fingerprints by WINNOWING (Schleimer et al.,
    the MOSS algorithm): hash every k-token gram, slide a window of w
    consecutive gram hashes, keep each window's minimum — the selected
    hash set is a position-robust fingerprint with guaranteed detection of
    matches ≥ w+k-1 tokens. Pure Catalyst higher-order functions (no UDF);
    docs shorter than k+w-1 tokens fall back to one whole-document hash.
    Output: one row per (id, fp) — sorted distinct selected hashes."""
    tok = f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)"
    # two bound stages (single-element transform wrappers): tokens once,
    # then EVERY gram hash exactly once into `gh`, then each window's min
    # is a w-element slice of gh. The old spelling re-ran the tokenizer
    # regexp, re-built the gram slice AND re-hashed the gram for every
    # (window, offset) pair — O(T·w·k) hashes where O(T) suffices.
    gram_hash = (
        f"CAST(conv(substring(md5(concat_ws(' ', "
        + ", ".join(f"element_at(tk, j + {x})" for x in range(k))
        + ")), 1, 8), 16, 10) AS BIGINT)"
    )
    fps = f"""
CASE WHEN size({tok}) >= {k + w - 1} THEN
  sort_array(array_distinct(flatten(transform(array({tok}), tk ->
    flatten(transform(
      array(transform(sequence(1, size(tk) - {k - 1}), j -> {gram_hash})), gh ->
      transform(sequence(1, size(gh) - {w - 1}), i -> array_min(slice(gh, i, {w})))))))))
ELSE array(CAST(conv(substring(md5(concat_ws(' ', {tok})), 1, 8), 16, 10) AS BIGINT))
END
""".strip()
    return docs.select(
        F.col(id_col).alias("id"), F.explode(F.expr(fps)).alias("fp")
    )
