"""Multi-term queries: Prefix / Wildcard / Fuzzy / TermRange / Regexp
queries rewritten against the term dictionary (host-Lucene query
surface, §2.5).

The reference answers queries through the host ``IndexSearcher`` (its
vector query IS a ``org.apache.lucene.search.Query``,
GPUKnnFloatVectorQuery.java:21-58), so the full Lucene query zoo runs
against the same index; prefix/wildcard are the multi-term members. Lucene
semantics mirrored here:

- rewrite enumerates the TERM DICTIONARY (never the corpus) for terms
  matching the pattern — our dictionary is the ``terms`` catalog view,
  a kind-pruned parquet scan; for prefixes the match is a pushed
  ``StringStartsWith``, for wildcards the compiled automaton's literal
  prefix is pushed and the regex filters the surviving dictionary rows.
  While the resident text pack serves the catalog (``bm25._scored``),
  prefix and fuzzy expansion read its sorted term array in the driver
  instead (a ``searchsorted`` range, then for fuzzy the length window and
  the batch edit-distance kernel); wildcard, regexp and range expansion
  stay on the scan.
- expansion is bounded by ``max_expansions`` (Lucene
  ``IndexSearcher.getMaxClauseCount``, default 1024) and EXCEEDING IT
  RAISES (``TooManyClauses``) — no silent truncation.
- ``*_docs``: CONSTANT_SCORE_REWRITE — the match set, no ranking: the
  expanded terms as the SHOULD clauses of one match-only
  ``bm25.boolean_query``, which runs the BM25 scoring core with every
  match kept and the scores dropped (so a resident catalog answers in
  the driver).
- ``prefix_topk`` / ``fuzzy_topk``: SCORING_BOOLEAN_REWRITE — the
  expanded terms feed the standard BM25 disjunction (same scorer, stats
  recomputed over live docs, so terms surviving only in deleted docs
  drop out exactly as a fresh Lucene reader would see them). Lucene's
  FuzzyQuery defaults to the top-terms blended rewrite; we implement the
  ``SCORING_BOOLEAN_REWRITE`` method (settable on any Lucene MultiTerm-
  Query via ``setRewriteMethod``) so ranks stay SQL-oracle-exact.
- ``fuzzy_*`` mirrors Lucene ``FuzzyQuery(term, maxEdits, prefixLength,
  transpositions)``: maxEdits ≤ 2 (LevenshteinAutomata.MAXIMUM_SUPPORTED
  _DISTANCE), the first ``prefix_length`` chars match verbatim and edits
  are measured on the suffix, ``transpositions=True`` counts an adjacent
  swap as ONE edit (Lucene's default, optimal-string-alignment
  semantics). Every exact OSA distance comes from one numpy kernel,
  :func:`_edit_distances` (the DP rows of a whole batch of candidates at
  once). On the resident tier it runs in the driver over the dictionary's
  prefix range and ±maxEdits length window (Levenshtein too, without
  transpositions). On the Spark tier, exact-prefix StartsWith + the length
  window reach the parquet dictionary scan, and a JVM-side
  ``levenshtein(_, _, threshold)`` (exact without transpositions; with
  them a superset cut — plain distance ≤ 2·maxEdits bounds OSA ≤
  maxEdits) runs before the kernel's pandas UDF.
- ``range_docs`` mirrors TermRangeQuery: binary-UTF8 lexicographic
  bounds (open end = None), both pushed to the dictionary scan.
- ``regexp_docs`` mirrors RegexpQuery: anchored match over the
  dictionary (Java regex syntax as Spark ``rlike``).

100 TB shape: the dictionary scan is pruned + pushed; the expanded term
list (≤ max_expansions strings) is the only driver-side state beyond the
resident pack, which holds the dictionary only while the text index fits
its budget; matching and scoring reuse the pruned-postings paths.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..frames import local_frame
from .bm25 import _text_pack, bm25_topk, boolean_query

MAX_EXPANSIONS = 1024  # Lucene IndexSearcher.maxClauseCount default


class TooManyClauses(ValueError):
    """Lucene ``IndexSearcher.TooManyClauses`` analogue: the pattern
    matches more dictionary terms than ``max_expansions``."""


def _wildcard_to_regex(pattern: str) -> tuple[str, str]:
    """Lucene WildcardQuery syntax (``*`` = any run, ``?`` = one char) →
    (anchored regex, literal prefix before the first wildcard). The prefix
    is pushed to the parquet dictionary scan like Lucene's automaton
    common-prefix optimization."""
    prefix = re.split(r"[*?]", pattern, maxsplit=1)[0]
    rx = "".join(
        ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
        for ch in pattern
    )
    return f"^{rx}$", prefix


def expand_terms(
    spark: SparkSession,
    cat,
    prefix: str = "",
    regex: str | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Enumerate dictionary terms matching (prefix[, regex]) — sorted,
    deduplicated across segments, bounded by ``max_expansions``.

    While the resident text pack serves the catalog, a prefix (no regex)
    expands over its sorted term array — a ``searchsorted`` range — with
    no Spark job. A regex (wildcard, regexp) takes the dictionary scan,
    whose ``rlike`` keeps Java's regex dialect."""
    text = _text_pack(cat) if regex is None else None
    if text is not None:
        a, z = _prefix_range(text.vocab(), prefix)
        out = text.vocab()[a:min(z, a + max_expansions + 1)].tolist()
    else:
        terms = cat.read(spark, "terms").select("term")
        if prefix:
            terms = terms.filter(F.col("term").startswith(prefix))
        if regex is not None:
            terms = terms.filter(F.col("term").rlike(regex))
        rows = terms.distinct().orderBy("term").limit(max_expansions + 1).collect()
        out = [r["term"] for r in rows]
    if len(out) > max_expansions:
        raise TooManyClauses(
            f"pattern expands to > {max_expansions} dictionary terms"
        )
    return out


def prefix_docs(
    spark: SparkSession,
    cat,
    prefix: str,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """PrefixQuery, CONSTANT_SCORE_REWRITE: live docs containing ≥1
    dictionary term starting with ``prefix`` → DataFrame(ext_id)."""
    terms = expand_terms(spark, cat, prefix=prefix, max_expansions=max_expansions)
    return _match_any(spark, cat, terms, cfg)


def wildcard_docs(
    spark: SparkSession,
    cat,
    pattern: str,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """WildcardQuery (``*``/``?``), CONSTANT_SCORE_REWRITE →
    DataFrame(ext_id)."""
    rx, prefix = _wildcard_to_regex(pattern)
    terms = expand_terms(
        spark, cat, prefix=prefix, regex=rx, max_expansions=max_expansions
    )
    return _match_any(spark, cat, terms, cfg)


def _match_any(spark, cat, terms: list[str], cfg) -> DataFrame:
    if not terms:
        return local_frame(spark, "ext_id long")
    return boolean_query(spark, cat, any_of=terms, cfg=cfg or IndexConfig())


MAX_FUZZY_EDITS = 2  # Lucene LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE


def _osa(a: str, b: str, cap: int) -> int:
    """Optimal-string-alignment distance (Levenshtein + adjacent
    transposition as ONE edit — Lucene ``transpositions=true``
    semantics), capped: returns cap+1 as soon as distance must exceed
    ``cap``. The scalar definition :func:`_edit_distances` batches."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1 and j > 1
                and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        if min(cur) > cap:
            return cap + 1
        prev2, prev = prev, cur
    return prev[lb]


def _edit_distances(
    terms, q: str, cap: int, transpositions: bool = True, skip: int = 0
) -> np.ndarray:
    """:func:`_osa` of every term (less its first ``skip`` code points)
    against ``q``, in one batch: the DP rows of all candidates at once,
    over a code point matrix. Row i is a (candidates × len(q)+1) array
    whose left-to-right ``cur[j-1] + 1`` dependency is one running
    minimum: cur[j] − j = min over j' ≤ j of (base[j'] − j'). A
    candidate leaves the batch when it is done or when its row minimum
    passes ``cap`` (then cap+1, as :func:`_osa` returns). Without
    ``transpositions`` it is the plain Levenshtein distance, capped alike."""
    u = np.asarray(terms, dtype=str)
    cps = u.view(np.uint32).reshape(u.size, u.dtype.itemsize // 4)[:, skip:]
    la = np.char.str_len(u).astype(np.int64) - skip
    b = np.array([ord(c) for c in q], dtype=np.uint32)
    lb = b.size
    out = np.full(u.size, cap + 1, np.int64)
    fits = np.abs(la - lb) <= cap
    out[fits & (la == 0)] = lb
    act = np.flatnonzero(fits & (la > 0))
    j = np.arange(lb + 1, dtype=np.int32)
    prev = np.broadcast_to(j, (act.size, lb + 1))
    prev2 = prev
    i = 0
    while act.size:
        i += 1
        a = cps[act, i - 1]
        base = np.empty((act.size, lb + 1), np.int32)
        base[:, 0] = i
        np.minimum(prev[:, 1:] + 1, prev[:, :-1] + (a[:, None] != b), out=base[:, 1:])
        if transpositions and i > 1 and lb > 1:
            swap = (a[:, None] == b[:-1]) & (cps[act, i - 2][:, None] == b[1:])
            base[:, 2:] = np.where(swap, np.minimum(base[:, 2:], prev2[:, :-2] + 1), base[:, 2:])
        cur = np.minimum.accumulate(base - j, axis=1) + j
        live = cur.min(axis=1) <= cap
        done = live & (la[act] == i)
        out[act[done]] = cur[done, lb]
        keep = live & ~done
        act, prev, prev2 = act[keep], cur[keep], prev[keep]
    return out


def _prefix_range(vocab: np.ndarray, prefix: str) -> tuple[int, int]:
    """The rows [a, z) of the sorted ``vocab`` that start with ``prefix``."""
    a = int(np.searchsorted(vocab, prefix))
    if not prefix:
        return a, vocab.size
    if prefix[-1] != "\U0010ffff":
        return a, int(np.searchsorted(vocab, prefix[:-1] + chr(ord(prefix[-1]) + 1)))
    z = a
    while z < vocab.size and vocab[z].startswith(prefix):
        z += 1
    return a, z


def fuzzy_expand(
    spark: SparkSession,
    cat,
    term: str,
    max_edits: int = MAX_FUZZY_EDITS,
    prefix_length: int = 0,
    transpositions: bool = True,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """FuzzyQuery rewrite: dictionary terms within ``max_edits`` of
    ``term``, sorted. The first ``min(prefix_length, len(term))`` chars
    match verbatim and the distance is measured on the suffixes, exactly
    as Lucene's FuzzyQuery builds its automaton past the non-fuzzy prefix.

    While the resident text pack serves the catalog, the expansion runs
    in the driver over its sorted dictionary: the prefix's ``searchsorted``
    range, the ±max_edits window over the code point lengths, then
    :func:`_edit_distances` over the survivors — no Spark job. Otherwise
    the dictionary scan: pushed StartsWith and length window, then
    ``levenshtein(_, _, threshold)`` in the JVM (exact for
    ``transpositions=False``; a ≤ 2·max_edits superset cut before the
    exact OSA pass otherwise — one transposition costs at most two plain
    edits), the OSA pass being :func:`_edit_distances` in a pandas UDF."""
    if not 0 <= max_edits <= MAX_FUZZY_EDITS:
        raise ValueError(
            f"max_edits must be in [0, {MAX_FUZZY_EDITS}] (Lucene "
            "LevenshteinAutomata supported distance)"
        )
    term = str(term)
    pl = min(max(0, prefix_length), len(term))
    pfx, suffix = term[:pl], term[pl:]
    text = _text_pack(cat)
    if text is not None:
        vocab = text.vocab()
        a, z = _prefix_range(vocab, pfx)
        near = np.abs(text.vocab_lengths()[a:z] - len(term)) <= max_edits
        cand = vocab[a:z][near]
        if max_edits == 0:
            cand = cand[cand == term]
        elif cand.size:
            cand = cand[_edit_distances(cand, suffix, max_edits, transpositions, pl) <= max_edits]
        out = cand[:max_expansions + 1].tolist()
    else:
        out = [r["term"] for r in _fuzzy_scan(spark, cat, term, max_edits, pl, transpositions)
               .limit(max_expansions + 1).collect()]
    if len(out) > max_expansions:
        raise TooManyClauses(
            f"fuzzy term expands to > {max_expansions} dictionary terms"
        )
    return out


def _fuzzy_scan(spark, cat, term: str, max_edits: int, pl: int, transpositions: bool) -> DataFrame:
    """The Spark tier of :func:`fuzzy_expand`: the matching dictionary
    terms, distinct and sorted."""
    suffix = term[pl:]
    cand = cat.read(spark, "terms").select("term")
    if pl:
        cand = cand.filter(F.col("term").startswith(term[:pl]))
    cand = cand.filter(
        F.length("term").between(len(term) - max_edits, len(term) + max_edits)
    )
    if max_edits == 0:
        cand = cand.filter(F.col("term") == term)
    else:
        sfx = F.col("term").substr(F.lit(pl + 1), F.length("term"))
        if transpositions:
            cand = cand.filter(
                F.levenshtein(sfx, F.lit(suffix), 2 * max_edits) >= 0
            )
            cand = cand.filter(_osa_udf(suffix, max_edits)(sfx) <= max_edits)
        else:
            cand = cand.filter(
                F.levenshtein(sfx, F.lit(suffix), max_edits) >= 0
            )
    return cand.distinct().orderBy("term")


def _osa_udf(q: str, cap: int):
    """:func:`_edit_distances` against ``q`` as an Arrow-batched pandas
    UDF (OSA distance, cap+1 past ``cap``)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def osa_dist(s):
        return pd.Series(_edit_distances(s.to_numpy(object), q, cap).astype(np.int32))

    return osa_dist


def fuzzy_docs(
    spark: SparkSession,
    cat,
    term: str,
    max_edits: int = MAX_FUZZY_EDITS,
    prefix_length: int = 0,
    transpositions: bool = True,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """FuzzyQuery, CONSTANT_SCORE_REWRITE → DataFrame(ext_id)."""
    terms = fuzzy_expand(
        spark, cat, term, max_edits, prefix_length, transpositions,
        max_expansions,
    )
    return _match_any(spark, cat, terms, cfg)


def fuzzy_topk(
    spark: SparkSession,
    cat,
    term: str,
    k: int = 10,
    max_edits: int = MAX_FUZZY_EDITS,
    prefix_length: int = 0,
    transpositions: bool = True,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    filter_ext_ids=None,
) -> DataFrame:
    """FuzzyQuery, SCORING_BOOLEAN_REWRITE: BM25 disjunction over the
    expanded terms → DataFrame(ext_id, score), top-k."""
    terms = fuzzy_expand(
        spark, cat, term, max_edits, prefix_length, transpositions,
        max_expansions,
    )
    if not terms:
        return local_frame(spark, "ext_id long, score double")
    return bm25_topk(
        spark, cat, terms, k=k, mode="or", cfg=cfg or IndexConfig(),
        filter_ext_ids=filter_ext_ids,
    )


def spell_suggest(
    spark: SparkSession,
    cat,
    term: str,
    max_edits: int = MAX_FUZZY_EDITS,
    num_suggestions: int = 5,
    transpositions: bool = False,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """``DirectSpellChecker`` (the Lucene suggest/spell module) →
    DataFrame(suggestion, distance, df): dictionary terms within
    ``max_edits`` of ``term``, ranked (distance asc, docFreq desc, term
    asc) — the SuggestWordQueue ordering with frozen tie-breaks — the
    query term itself excluded, df over LIVE docs only (a term surviving
    only in deleted docs is not a suggestion).

    UNLIKE the multi-term query rewrites there is NO maxClauseCount
    bound and nothing ever raises ``TooManyClauses``: DirectSpellChecker
    never builds a BooleanQuery — Lucene streams FuzzyTermsEnum into a
    bounded priority queue. The Spark mirror is fully distributed for
    the same reason: the candidate set (pushed length window +
    JVM-side thresholded ``levenshtein``; OSA via an Arrow-batched
    pandas UDF when ``transpositions``) stays a DataFrame, live df joins
    in (the global dictionary aggregate on the clean path, the
    per-segment postings-decode frame under tombstones), and the queue
    is ``orderBy(...).limit(n)`` — per-partition bounded top-k. At a
    million-term dictionary neighborhood nothing is collected and
    nothing throws."""
    from .bm25 import _has_tombstones, _live_df_frame

    cfg = cfg or IndexConfig()
    if not 0 <= max_edits <= MAX_FUZZY_EDITS:
        raise ValueError(
            f"max_edits must be in [0, {MAX_FUZZY_EDITS}] (Lucene "
            "LevenshteinAutomata supported distance)"
        )
    if num_suggestions <= 0:
        return local_frame(spark, "suggestion string, distance int, df long")
    q = str(term)
    cand = (
        cat.read(spark, "terms")
        .select("term")
        .filter(
            F.length("term").between(len(q) - max_edits, len(q) + max_edits)
        )
        .filter(F.col("term") != q)
        .distinct()
    )
    if transpositions:
        # superset cut JVM-side (one swap costs ≤ 2 plain edits), exact
        # OSA distance in an Arrow-batched pandas UDF
        cand = cand.filter(
            F.levenshtein(F.col("term"), F.lit(q), 2 * max_edits) >= 0
        )
        cand = cand.withColumn("distance", _osa_udf(q, max_edits)(F.col("term")))
    else:
        cand = cand.withColumn(
            "distance", F.levenshtein(F.col("term"), F.lit(q))
        )
    cand = cand.filter(F.col("distance") <= max_edits)
    if _has_tombstones(spark, cat):
        # live df via the per-segment postings-decode frame; the postings
        # scan prunes through the candidate semi-join
        postings = cat.read(spark, "postings").join(
            cand.select("term"), "term", "left_semi"
        )
        dfs = _live_df_frame(spark, cat, postings)
    else:
        # constraint inference carries `cand`'s edit window (length range,
        # term != q) across the join on term and below this aggregate:
        # the captured plan filters this dictionary scan exactly as when
        # the window was also written here
        dfs = cat.read(spark, "terms").groupBy("term").agg(F.sum("df").alias("df"))
    return (
        cand.join(dfs, "term")
        .filter(F.col("df") > 0)
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .limit(int(num_suggestions))
        .select(
            F.col("term").alias("suggestion"),
            F.col("distance").cast("int").alias("distance"),
            F.col("df").cast("long").alias("df"),
        )
    )


def complete(
    spark: SparkSession,
    cat,
    prefix: str,
    num_suggestions: int = 5,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Prefix completion (the Lucene suggest module's dictionary lookup,
    ``Lookup`` over an index-reader dictionary weighted by docFreq) →
    DataFrame(suggestion, df): live dictionary terms starting with
    ``prefix`` ranked (df desc, term asc), top ``num_suggestions``.

    Same distributed shape as :func:`spell_suggest`: pushed StartsWith
    on the dictionary scan, live df joined in (dictionary aggregate /
    per-segment postings decode under tombstones), ``orderBy + limit``
    as the bounded queue — no clause cap, nothing collected."""
    from .bm25 import _has_tombstones, _live_df_frame

    if not prefix:
        raise ValueError("complete needs a non-empty prefix")
    if num_suggestions <= 0:
        return local_frame(spark, "suggestion string, df long")
    cand = (
        cat.read(spark, "terms")
        .select("term")
        .filter(F.col("term").startswith(prefix))
        .distinct()
    )
    if _has_tombstones(spark, cat):
        postings = cat.read(spark, "postings").join(
            cand, "term", "left_semi"
        )
        dfs = _live_df_frame(spark, cat, postings)
    else:
        # prefix-filter the dictionary scan feeding the aggregate (see
        # spell_suggest): StartsWith pushes to the parquet scan, so the
        # df aggregate touches only the prefix's terms instead of the
        # full vocabulary (results unchanged — cand join is the gate)
        dfs = (
            cat.read(spark, "terms")
            .filter(F.col("term").startswith(prefix))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
    return (
        cand.join(dfs, "term")
        .filter(F.col("df") > 0)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(int(num_suggestions))
        .select(
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
        )
    )


def range_expand(
    spark: SparkSession,
    cat,
    lower: str | None,
    upper: str | None,
    include_lower: bool = True,
    include_upper: bool = True,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """TermRangeQuery rewrite: dictionary terms in the lexicographic
    (binary UTF-8) interval — ``None`` bound = open end, both bounds
    pushed to the dictionary scan."""
    cand = cat.read(spark, "terms").select("term")
    if lower is not None:
        cand = cand.filter(
            F.col("term") >= lower if include_lower else F.col("term") > lower
        )
    if upper is not None:
        cand = cand.filter(
            F.col("term") <= upper if include_upper else F.col("term") < upper
        )
    rows = cand.distinct().orderBy("term").limit(max_expansions + 1).collect()
    if len(rows) > max_expansions:
        raise TooManyClauses(
            f"term range expands to > {max_expansions} dictionary terms"
        )
    return [r["term"] for r in rows]


def range_docs(
    spark: SparkSession,
    cat,
    lower: str | None,
    upper: str | None,
    include_lower: bool = True,
    include_upper: bool = True,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """TermRangeQuery, CONSTANT_SCORE_REWRITE → DataFrame(ext_id)."""
    terms = range_expand(
        spark, cat, lower, upper, include_lower, include_upper,
        max_expansions,
    )
    return _match_any(spark, cat, terms, cfg)


def _regex_literal_prefix(pattern: str) -> str:
    """Leading literal run of an anchorable regex (chars before the first
    metacharacter) — pushed to the dictionary scan like Lucene's
    automaton common-prefix optimization. Conservative: stops at any
    metacharacter, and drops the last literal if a quantifier follows."""
    meta = set(".^$*+?{}[]()|\\")
    out: list[str] = []
    for ch in pattern:
        if ch in meta:
            if ch in "*+?{" and out:
                out.pop()  # the previous literal is quantified, not fixed
            break
        out.append(ch)
    return "".join(out)


def regexp_docs(
    spark: SparkSession,
    cat,
    pattern: str,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """RegexpQuery, CONSTANT_SCORE_REWRITE: the pattern must match the
    ENTIRE term (Lucene anchoring) → DataFrame(ext_id)."""
    terms = expand_terms(
        spark, cat,
        prefix=_regex_literal_prefix(pattern),
        regex=f"^(?:{pattern})$",
        max_expansions=max_expansions,
    )
    return _match_any(spark, cat, terms, cfg)


def prefix_topk(
    spark: SparkSession,
    cat,
    prefix: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    filter_ext_ids=None,
) -> DataFrame:
    """PrefixQuery, SCORING_BOOLEAN_REWRITE: BM25 disjunction over the
    expanded terms → DataFrame(ext_id, score), top-k."""
    terms = expand_terms(spark, cat, prefix=prefix, max_expansions=max_expansions)
    if not terms:
        return local_frame(spark, "ext_id long, score double")
    return bm25_topk(
        spark, cat, terms, k=k, mode="or", cfg=cfg or IndexConfig(),
        filter_ext_ids=filter_ext_ids,
    )
