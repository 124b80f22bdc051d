"""BM25 top-k query path (SURVEY.md §2.4 S1-S10, §2.5 H4-H6, H9).

Spark restatement of the reference's search lifecycle
(``GPUKnnFloatVectorQuery`` → per-leaf ``CuVS2510GPUVectorsReader.search``
→ host top-k merge, SURVEY.md §3.2): *query broadcast → per-segment scorer
over postings + norms (one segment-grouped pandas UDF) emitting exact
per-segment top-k partials → global ``orderBy(score desc, ext_id asc)
.limit(k)``*.

One core for scored and match-only queries, as Lucene runs every query
as a weight over one BM25 similarity, a match-only one with
``ScoreMode.COMPLETE_NO_SCORES``. Each query — a term disjunction or
conjunction, a boosted query, ``DisjunctionMaxQuery``, ``SynonymQuery``,
a scored ``BooleanQuery``, every query of a batch, and the match sets of
``term_docs``, the ``boolean_*`` family, ``hit_count`` and the
multi-term ``*_docs`` (:func:`boolean_query`: every match, scores
dropped) — compiles to one normalized spec (:func:`_compile`: terms, a
combiner, clause constraints, k), bound to live statistics as per-term
weights idf × boost (:func:`_weigh`). A single query is a batch of one.
One driver path (:func:`_scored`) reads the filter head and picks one of
two tiers; one Spark-free numpy kernel (:func:`_score_batch_queries`)
scores a segment on both as a dense per-doc accumulation followed by an
exact tie-broken top-k. There is no
block-max pruning: the dense kernel measured faster on every query shape
tried, on segments of 20k and 100k docs.

- resident (:func:`_resident_scored`): as Lucene's ``IndexSearcher``
  scores each leaf inside the serving process (PAPER.md §0, Layer B), the
  catalog's pack (``resident.Pack``, shared with ANN) holds segdata's
  postings and norms rows per segment and the tombstoned ext_ids; live
  N / avgdl / df, every leaf's kernel and the global top-k run in the
  driver and the result is one ``LocalRelation``, so a warm query or
  batch runs no Spark job. It serves while segdata's committed bytes fit
  ``resident.TEXT_RESIDENT_MAX_BYTES``, the pack could be read, and the
  filter and the tombstones each hold at most ``FILTER_BROADCAST_MAX``
  ids;
- Spark (:func:`_spark_partials`): one postings scan, one UDF body
  (:func:`_segment_scorer`) per segment over the norms broadcast or the
  tombstone / filter cogroup, then a global
  ``orderBy(score desc, ext_id asc).limit(k)`` (a window per query for a
  batch).

Both tiers compute the same statistics and weights and run the same
kernel under the same tie rule, so they return the same (ext_id, score)
lists bit for bit.

Pre-filter semantics (S10, a correctness requirement): filters and
tombstones restrict the candidate set BEFORE top-k, inside the scorer —
never as a post-filter of the top-k result.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig, shuffle_partitions
from cuvs_lucene_spark.frames import LocalResult, arrow_frame, head_arrow, local_frame
from cuvs_lucene_spark.functions.varint import varint_decode
from cuvs_lucene_spark.operators import resident as R
from cuvs_lucene_spark.operators.segments import corpus_stats, index_term_buckets, term_bucket_py
from cuvs_lucene_spark.sources.catalog import IndexCatalog, stats_version

SCORE_SCHEMA = "segment_id long, ext_id long, score double"
FILTER_BROADCAST_MAX = 200_000  # allowed-set size above which the filter
                                # goes through doc_map blobs, not a closure
NORMS_BROADCAST_MAX_DOCS = 2_000_000  # ≤ ~24MB of packed norms: ship them
                                      # once per executor instead of
                                      # re-scanning + cogrouping per query


def idf(n_docs: int, df: int) -> float:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


_POST_COLS = ("block_id", "first_doc", "last_doc", "n", "max_tf", "doc_deltas", "tfs")


def _group_postings(postings: pd.DataFrame, wanted: set[str]) -> dict[str, dict[str, np.ndarray]]:
    """Posting rows → {term: {col: numpy array}} without pandas groupby /
    itertuples — profiling showed row boxing dominated the scorer (70% of
    the batch path); raw object arrays keep the hot loop in numpy."""
    t_arr = postings["term"].to_numpy()
    order = np.argsort(t_arr, kind="mergesort")
    t_s = t_arr[order]
    cols = {c: postings[c].to_numpy()[order] for c in _POST_COLS}
    if t_s.size == 0:
        return {}
    starts = np.flatnonzero(np.concatenate(([True], t_s[1:] != t_s[:-1])))
    ends = np.append(starts[1:], t_s.size)
    out: dict[str, dict[str, np.ndarray]] = {}
    for a, z in zip(starts, ends):
        t = t_s[a]
        if t in wanted:
            out[t] = {c: cols[c][a:z] for c in _POST_COLS}
    return out


def _decode_term(
    p: dict[str, np.ndarray], limit: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """All posting blocks of one term → (doc_ids ascending, tfs). With a
    ``limit``, blocks whose first doc is at or past it are not decoded."""
    blocks = range(p["doc_deltas"].size) if limit is None else np.flatnonzero(p["first_doc"] < limit)
    if not len(blocks):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    docs = np.concatenate(
        [np.cumsum(varint_decode(p["doc_deltas"][j]), dtype=np.int64) for j in blocks]
    )
    tfs = np.concatenate([varint_decode(p["tfs"][j]) for j in blocks])
    return docs, tfs


def _aux_arrays(aux: pd.DataFrame):
    """Unpack the cogrouped aux side: packed dls / ext_ids / tombstones /
    allowed."""
    dls = ext_ids = None
    tomb = allowed = None
    for r in aux.itertuples():
        if r.kind == "dls":
            dls = np.frombuffer(r.payload, dtype=np.uint32).astype(np.float64)
        elif r.kind == "ext_ids":
            ext_ids = np.frombuffer(r.payload, dtype=np.int64)
        elif r.kind == "tomb":
            tomb = np.frombuffer(r.payload, dtype=np.int32)
        elif r.kind == "allowed":
            allowed = np.frombuffer(r.payload, dtype=np.int32)
    return dls, ext_ids, tomb, allowed


def _resolve_allowed(allowed_ext: np.ndarray, ext_ids: np.ndarray) -> np.ndarray:
    """Broadcast small-filter set (sorted ext_ids) → segment-local doc ids."""
    if allowed_ext.size == 0:
        return np.empty(0, np.int32)
    pos = np.minimum(np.searchsorted(allowed_ext, ext_ids), allowed_ext.size - 1)
    return np.flatnonzero(allowed_ext[pos] == ext_ids).astype(np.int32)


def _norms_broadcast(spark: SparkSession, cat: IndexCatalog):
    """Packed per-segment norms (dls + ext_ids blobs, segdata's ``norms``
    rows read by pyarrow) shipped ONCE per executor as a Spark broadcast,
    memoized on the catalog keyed by the manifest commit time. Lets the
    no-deletes hot query path skip the second segdata scan and the
    cogroup shuffle entirely — a repeat query is a single Spark job.
    Gated by NORMS_BROADCAST_MAX_DOCS (12 bytes per doc); larger corpora
    stay on the cogroup path."""
    m = cat.read_manifest()
    ver = stats_version(m)
    memo = getattr(cat, "_norms_memo", None)
    if memo is not None and memo["ver"] == ver:
        return memo["bc"]
    norms = cat.read_arrow("segdata", ["segment_id", "doc_deltas", "tfs"],
                           where=pc.field("kind") == "norms", tables=m["tables"]).to_pydict()
    blobs = {s: (dls, ext) for s, dls, ext in zip(*norms.values())}
    bc = spark.sparkContext.broadcast(blobs)
    if memo is not None:  # drop the superseded snapshot's broadcast blocks
        try:
            memo["bc"].unpersist()
        except Exception:
            pass
    cat._norms_memo = {"ver": ver, "bc": bc}
    return bc


def _alive_mask(n_docs: int, tomb, allowed, limit: int | None = None) -> np.ndarray:
    """Docs a query may return: not tombstoned, in the allowed set (when
    one is given) and below the ``visited_limit`` doc id."""
    alive = np.ones(n_docs, dtype=bool)
    if tomb is not None and tomb.size:
        alive[tomb] = False
    if allowed is not None:
        m = np.zeros(n_docs, dtype=bool)
        m[allowed] = True
        alive &= m
    if limit is not None:
        alive[limit:] = False
    return alive


def _score_batch_queries(
    specs: dict[str, dict],
    post: dict[str, tuple[np.ndarray, np.ndarray]],
    alive: np.ndarray,
    ext_ids: np.ndarray,
    denom: np.ndarray,
    k1: float,
) -> tuple[list, list, list]:
    """The one BM25 segment kernel: score every spec against one segment
    → (query-id, ext_id, score) arrays, one of each per query with hits.

    ``post`` maps each live term with postings here to (doc ids, float64
    tfs). ``denom`` is each doc's k1·(1 − b + b·dl/avgdl). A spec (see
    :func:`_weigh`) has scoring ``terms`` with weights ``w``, a ``comb``
    (``sum``; ``dismax``: max + ``tie`` × (sum − max); ``synonym``: tf
    summed across the terms, BM25 applied once with the shared weight),
    clause constraints ``must`` / ``should`` / ``msm`` / ``exclude`` and
    ``k``. A doc matches when it is alive, holds a scoring term, every
    must term, at least msm should terms and no exclude term. The top-k
    keeps (score desc, ext_id asc). Contributions add term by term in
    query order in float64, so scores are the same on every tier."""
    # (term, weight) → (doc ids, contributions), shared by the specs here
    memo: dict[tuple[str, float], tuple[np.ndarray, np.ndarray]] = {}

    def contrib(t: str, w: float):
        c = memo.get((t, w))
        if c is None:
            docs, tfs = post[t]
            c = memo[(t, w)] = (docs, w * tfs * (k1 + 1.0) / (tfs + denom[docs]))
        return c

    n_docs = alive.size
    q_out: list[np.ndarray] = []
    e_out: list[np.ndarray] = []
    s_out: list[np.ndarray] = []
    for qid, q in specs.items():
        k = q["k"]
        present = [t for t in q["terms"] if t in post]
        should = [t for t in q["should"] if t in post]
        if (k <= 0 or not present or q["msm"] > len(should)
                or any(t not in post for t in q["must"])):
            continue
        acc = np.zeros(n_docs, dtype=np.float64)
        if q["comb"] == "synonym":
            for t in present:
                acc[post[t][0]] += post[t][1]
            hit = acc > 0
            score = np.zeros(n_docs, dtype=np.float64)
            w = q["w"][present[0]]
            score[hit] = w * (k1 + 1.0) * acc[hit] / (acc[hit] + denom[hit])
        else:
            mx = np.zeros(n_docs, dtype=np.float64) if q["comb"] == "dismax" else None
            for t in present:
                d, c = contrib(t, q["w"][t])
                acc[d] += c  # doc ids unique per term → plain fancy add
                if mx is not None:
                    mx[d] = np.maximum(mx[d], c)
            hit = acc > 0
            score = acc if mx is None else mx + q["tie"] * (acc - mx)
        hit &= alive
        if q["must"]:
            # int32: an int8 counter wraps at >127 terms
            nm = np.zeros(n_docs, dtype=np.int32)
            for t in q["must"]:
                nm[post[t][0]] += 1
            hit &= nm == len(q["must"])
        if q["msm"] > (0 if q["must"] else 1):  # a pure disjunction needs no count
            ns = np.zeros(n_docs, dtype=np.int32)
            for t in should:
                ns[post[t][0]] += 1
            hit &= ns >= q["msm"]
        for t in q["exclude"]:
            if t in post:
                hit[post[t][0]] = False  # MUST_NOT veto, never scored
        idxs = np.flatnonzero(hit)
        if idxs.size == 0:
            continue
        if idxs.size > k:
            # keep every doc tied at the k-th score so the (score desc,
            # ext_id asc) tie-break below stays exact
            vals = score[idxs]
            kth = -np.partition(-vals, k - 1)[k - 1]
            idxs = idxs[vals >= kth]
        idxs = idxs[np.lexsort((ext_ids[idxs], -score[idxs]))[:k]]
        q_out.append(np.full(idxs.size, qid, dtype=object))
        e_out.append(ext_ids[idxs])
        s_out.append(score[idxs])
    return q_out, e_out, s_out


def _segment_scorer(
    specs: dict[str, dict],
    terms: set[str],
    avgdl: float,
    cfg: IndexConfig,
    with_qid: bool,
    norms_bc=None,
    allowed_ext: np.ndarray | None = None,
    filter_active: bool = False,
    visited_limit: int | None = None,
):
    """The one per-segment UDF body of every tier → ``score(postings,
    aux, seg)`` returning the segment's partial top-k rows.

    Norms come from the executor-local broadcast ``norms_bc`` (``aux``
    None) or from the cogrouped aux side (tombstones, large filters).
    ``allowed_ext`` is the broadcast small filter (sorted ext_ids);
    ``filter_active`` marks a packed-blob filter, under which a segment
    with NO ``allowed`` aux row has no allowed docs (S10).
    ``visited_limit`` restricts scoring to local doc ids below it
    (Lucene's doc-id visit order) and skips decoding blocks past it."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    dtypes = {"query_id": "object", "segment_id": "int64", "ext_id": "int64", "score": "float64"}
    if not with_qid:
        del dtypes["query_id"]
    empty = pd.DataFrame({c: pd.Series([], dtype=t) for c, t in dtypes.items()})

    def score(postings: pd.DataFrame, aux: pd.DataFrame | None, seg: int) -> pd.DataFrame:
        if postings.empty:
            return empty
        if aux is None:
            blob = norms_bc.value.get(seg)
            if blob is None:
                return empty
            dls = np.frombuffer(blob[0], dtype=np.uint32).astype(np.float64)
            ext_ids = np.frombuffer(blob[1], dtype=np.int64)
            tomb = allowed = None
        else:
            dls, ext_ids, tomb, allowed = _aux_arrays(aux)
            if dls is None or (filter_active and allowed is None):
                return empty
        if allowed_ext is not None:
            allowed = _resolve_allowed(allowed_ext, ext_ids)
        alive = _alive_mask(dls.size, tomb, allowed, visited_limit)
        if not alive.any():
            return empty
        post = {}
        for t, p in _group_postings(postings, terms).items():
            docs, tfs = _decode_term(p, visited_limit)
            if docs.size:
                post[t] = (docs, tfs.astype(np.float64))
        if not post:
            return empty
        denom = k1 * (1.0 - b + b * dls / avgdl)
        q, e, s = _score_batch_queries(specs, post, alive, ext_ids, denom, k1)
        if not q:
            return empty
        # ONE output frame per segment — per-query frames were a
        # measurable slice of the batch path
        out = {"query_id": np.concatenate(q), "segment_id": np.int64(seg),
               "ext_id": np.concatenate(e), "score": np.concatenate(s)}
        if not with_qid:
            del out["query_id"]
        return pd.DataFrame(out)

    return score


def _compile(s: dict, label: str = "") -> dict | None:
    """One query spec → the normalized spec every query runs as, scored
    or match-only, or None when Lucene's clause rules say it matches
    nothing.

    A plain spec ``{"terms", "mode", "k"}``: mode ``or`` (any term) or
    ``and`` (every term required). A boolean spec ``{"must", "should",
    "exclude", "min_should_match", "k"}`` (``BooleanQuery``): msm None is
    0 with must clauses, else 1; a pure-should query needs at least one
    match; an msm above the should count matches nothing. Its clause
    lists may overlap (a match-only query); a scored one is checked by
    :func:`_disjoint` first. The internal keys ``comb`` (sum | dismax |
    synonym), ``tie``, ``boosts`` and ``scores`` (False: a match-only
    query, Lucene's ``COMPLETE_NO_SCORES``) pass through. ``label``
    prefixes validation errors."""
    where = f"{label}: " if label else ""
    base = {"comb": s.get("comb", "sum"), "tie": float(s.get("tie", 0.0)),
            "boosts": s.get("boosts") or {}, "k": int(s.get("k", 10)),
            "scores": bool(s.get("scores", True))}
    if not ({"must", "should", "exclude", "min_should_match"} & set(s)):
        mode = s.get("mode", "or")
        if mode not in ("or", "and"):
            raise ValueError(f"{where}unknown mode {mode!r}; expected one of ('or', 'and')")
        terms = list(dict.fromkeys(s["terms"]))
        must, should, msm = (terms, [], 0) if mode == "and" else ([], terms, 1)
        return {**base, "terms": terms, "must": must, "should": should,
                "msm": msm, "exclude": []}
    if "terms" in s or "mode" in s:
        raise ValueError(f"{where}boolean spec must not also carry terms/mode")
    must, should, exclude = (
        list(dict.fromkeys(s.get(c, ()))) for c in ("must", "should", "exclude")
    )
    if not must and not should:
        raise ValueError(f"{where}at least one positive clause (must / should) is required")
    msm = s.get("min_should_match")
    msm = (0 if must else 1) if msm is None else int(msm)
    if not must:
        msm = max(1, msm)  # pure-SHOULD still needs one match (Lucene)
    if msm > len(should):
        return None
    return {**base, "terms": list(dict.fromkeys(must + should)), "must": must,
            "should": should, "msm": msm, "exclude": exclude}


def _disjoint(s: dict, label: str = "") -> dict:
    """A scored boolean spec ``s``, checked: a term in two of its clause
    lists would score twice (or score and veto), so it raises
    ``ValueError``."""
    must, should, exclude = (set(s.get(c, ())) for c in ("must", "should", "exclude"))
    overlap = (must | should) & exclude | (must & should)
    if overlap:
        where = f"{label}: " if label else ""
        raise ValueError(f"{where}terms appear in more than one clause list: {sorted(overlap)}")
    return s


def _weigh(s: dict, idf_of: dict[str, float], n: int, df: dict[str, int]) -> dict | None:
    """Bind a compiled spec to the live statistics (``idf_of`` holds the
    terms with live docs) → the kernel's spec: live terms and per-term
    weights idf × boost. None when it cannot match: a required term, or
    too many should terms, have no live doc. Boolean structure restricts
    candidates, never statistics (``BM25Similarity``)."""
    terms = [t for t in s["terms"] if t in idf_of]
    should = [t for t in s["should"] if t in idf_of]
    if not terms or s["msm"] > len(should) or any(t not in idf_of for t in s["must"]):
        return None
    if s["comb"] == "synonym":
        # SynonymQuery merges TermStatistics: docFreq = max across the
        # synonyms — one idf for the pseudo-term
        w = dict.fromkeys(terms, idf(n, max(df[t] for t in terms)))
    else:
        w = {t: idf_of[t] * float(s["boosts"].get(t, 1.0)) for t in terms}
    exclude = [t for t in s["exclude"] if t in idf_of]  # a df-0 MUST_NOT vetoes nothing
    return {**s, "terms": terms, "should": should, "exclude": exclude, "w": w}


def _spark_partials(
    spark: SparkSession,
    cat: IndexCatalog,
    specs: dict[str, dict],
    terms: list[str],
    cfg: IndexConfig,
    allowed_ext: np.ndarray | None,
    aux_filter: DataFrame | None,
    visited_limit: int | None,
    batch: bool,
) -> DataFrame | None:
    """The Spark tier → per-segment partial top-k rows (``query_id``
    first when ``batch``, then ``SCORE_SCHEMA``), or None when no spec
    can match.

    Done once for the whole batch: one postings scan of every term; live
    stats, df and idf; the norms tier (the executor-local norms broadcast
    when there are no tombstones and no blob filter, else the aux
    cogroup, which also carries a filter above ``FILTER_BROADCAST_MAX``).
    The scan feeds the scorer, grouped by segment. Match-only specs
    (``scores`` False) read no statistic: any positive weight gives the
    same match set, and the scorer's alive mask already drops the dead
    docs of a term, so they skip the live N / df jobs."""
    postings = _query_postings(spark, cat, terms)
    if any(s["scores"] for s in specs.values()):
        n, avgdl, df = _live_stats_and_df(spark, cat, terms, cfg, postings, aux_filter)
        idf_of = {t: idf(n, d) for t, d in df.items() if d > 0}
    else:
        (n, _), avgdl, df = corpus_stats(cat), 1.0, {}
        idf_of = dict.fromkeys(terms, 1.0)
    if n == 0:
        return None
    specs = {q: w for q, s in specs.items() if (w := _weigh(s, idf_of, n, df)) is not None}
    if not specs:
        return None
    live = {t for s in specs.values() for t in (*s["terms"], *s["exclude"])}
    schema = f"query_id string, {SCORE_SCHEMA}" if batch else SCORE_SCHEMA
    args = (specs, live, avgdl, cfg, batch)
    opts = {"allowed_ext": allowed_ext, "visited_limit": visited_limit}
    if aux_filter is not None or _has_tombstones(spark, cat) or n > NORMS_BROADCAST_MAX_DOCS:
        score = _segment_scorer(*args, filter_active=aux_filter is not None, **opts)
        return (
            postings.groupby("segment_id")
            .cogroup(_aux_df(spark, cat, aux_filter).groupby("segment_id"))
            .applyInPandas(lambda key, p, a: score(p, a, int(key[0])), schema)
        )
    score = _segment_scorer(*args, norms_bc=_norms_broadcast(spark, cat), **opts)
    return postings.groupby("segment_id").applyInPandas(
        lambda p: score(p, None, int(p["segment_id"].iloc[0])), schema
    )


def _spark_top(partials: DataFrame, specs: dict[str, dict], batch: bool, sort: bool) -> DataFrame:
    """The Spark tier's global top-k of the partials: (score desc, ext_id
    asc) with the query's k, or per query with its ``rank`` in a batch."""
    if not batch:
        if not sort:
            return partials.select("ext_id", "score")
        k = next(iter(specs.values()))["k"]
        return partials.orderBy(F.desc("score"), F.asc("ext_id")).limit(k).select("ext_id", "score")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("ext_id"))
    ks = {s["k"] for s in specs.values()}
    if len(ks) == 1:
        # homogeneous k (the common batch shape): a constant comparison —
        # a per-query create_map of 2·|batch| literals costs seconds of
        # DRIVER analysis per run at 1024 queries, a pure serial tax that
        # caps N→4N batch scaling
        k_cond = F.col("rank") <= next(iter(ks))
    else:
        k_map = F.create_map(
            *[x for qid, s in specs.items() for x in (F.lit(qid), F.lit(s["k"]))]
        )
        k_cond = F.col("rank") <= k_map[F.col("query_id")]
    # explicit repartition before the window: the partials are small in
    # BYTES (segments × queries × k compact rows), so AQE's advisory-size
    # coalescing would collapse the window exchange to ONE task — a
    # constant serial sort that caps N→4N batch scaling (Amdahl). An
    # explicit numPartitions pins the per-query window work parallel.
    npart = shuffle_partitions(partials.sparkSession)
    return (
        partials.repartition(npart, "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(k_cond)
        .select("query_id", "ext_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Resident tier: segdata's postings and norms in the driver
# ---------------------------------------------------------------------------


class _Blobs(NamedTuple):
    """A binary column as offsets into one byte buffer: row ``i`` holds
    ``data[off[i]:off[i + 1]]``, so a run of rows is one slice."""

    off: np.ndarray
    data: np.ndarray


def _blobs(col) -> _Blobs:
    arr = col.cast(pa.large_binary()).combine_chunks()
    _, off, data = arr.buffers()
    off = np.frombuffer(off, np.int64)[arr.offset: arr.offset + len(arr) + 1]
    return _Blobs(off, np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8))


def _find(keys: _Blobs, key: bytes) -> tuple[int, int]:
    """The rows [lo, hi) of the sorted UTF-8 ``keys`` equal to ``key``: a
    binary search over the byte slices, no per-row Python object. UTF-8
    byte order is code point order, the order of Spark's and Arrow's
    string sorts."""
    rows = range(keys.off.size - 1)

    def at(i: int) -> bytes:
        return keys.data[keys.off[i]:keys.off[i + 1]].tobytes()

    lo = bisect_left(rows, key, key=at)
    return lo, bisect_right(rows, key, lo=lo, key=at)


def _strings(keys: _Blobs) -> pa.Array:
    """A ``_Blobs`` of UTF-8 keys as an Arrow string array (no copy)."""
    return pa.Array.from_buffers(pa.large_string(), keys.off.size - 1,
                                 [None, pa.py_buffer(keys.off), pa.py_buffer(keys.data)])


class _Leaf(NamedTuple):
    """One segment in the resident pack: its norms, and its posting
    blocks sorted by (term, block_id). Its distinct terms are a sorted run
    index: ``terms`` (UTF-8, ascending) and ``runs``, term ``i``'s blocks
    being ``runs[i]:runs[i + 1]``."""

    dl: np.ndarray       # doc lengths (uint32), by local doc id
    dls: np.ndarray      # the same as float64
    ext_ids: np.ndarray  # int64, by local doc id
    by_ext: np.ndarray   # local doc ids in ext_id order
    dl_sum: int
    terms: _Blobs
    runs: np.ndarray
    first_doc: np.ndarray
    n: np.ndarray        # postings per block
    deltas: _Blobs
    tfs: _Blobs


def _run(leaf: _Leaf, t: str) -> tuple[int, int] | None:
    """The blocks of ``t`` in ``leaf`` as (first, end), or None."""
    lo, hi = _find(leaf.terms, t.encode())
    return (int(leaf.runs[lo]), int(leaf.runs[lo + 1])) if hi > lo else None


def _leaf_postings(leaf: _Leaf, run: tuple[int, int]) -> tuple[np.ndarray, np.ndarray]:
    """One term's blocks ``run`` → (doc ids ascending, tfs), one varint
    decode per column: each block's first delta is absolute, so the
    running sum restarts at every block."""
    a, z = run
    d = varint_decode(leaf.deltas.data[leaf.deltas.off[a]:leaf.deltas.off[z]])
    n = leaf.n[a:z]
    c = np.cumsum(d)
    first = np.cumsum(n) - n
    docs = c - np.repeat(c[first] - d[first], n)
    return docs, varint_decode(leaf.tfs.data[leaf.tfs.off[a]:leaf.tfs.off[z]])


def _segment_runs(seg: np.ndarray, segs) -> dict[int, tuple[int, int]]:
    """Each of ``segs`` → its rows [a, z) in the ascending ``seg`` column
    ((0, 0) when it has none)."""
    lo, hi = np.searchsorted(seg, segs, "left"), np.searchsorted(seg, segs, "right")
    return {int(s): (int(a), int(z)) for s, a, z in zip(segs, lo, hi)}


def _leaves(at: pa.Table) -> dict[int, _Leaf]:
    """segdata ``post`` + ``norms`` rows → {segment_id: leaf}; a segment
    with no norms row has nothing to score (as on the Spark tier). The
    (segment, term) groups are found by Arrow comparisons of adjacent
    rows, so no Python string is made per term."""
    kind = at.column("kind")
    norms = at.filter(pc.equal(kind, "norms")).to_pydict()
    post = at.filter(pc.equal(kind, "post")).sort_by(
        [("segment_id", "ascending"), ("term", "ascending"), ("block_id", "ascending")]
    )
    seg = post.column("segment_id").to_numpy()
    term = post.column("term")
    first_doc = post.column("first_doc").to_numpy()
    n = post.column("n").to_numpy().astype(np.int64)
    deltas, tfs = _blobs(post.column("doc_deltas")), _blobs(post.column("tfs"))
    # one group per (segment, term): its blocks, in block order
    new = np.ones(seg.size, dtype=bool)
    if seg.size > 1:
        new[1:] = (seg[1:] != seg[:-1]) | pc.not_equal(term[1:], term[:-1]).to_numpy()
    starts = np.flatnonzero(new)
    bounds = np.append(starts, seg.size)
    gterms = _blobs(term.take(pa.array(starts)))
    groups = _segment_runs(seg[starts], norms["segment_id"])
    leaves = {}
    for s, blob_dl, blob_ext in zip(norms["segment_id"], norms["doc_deltas"], norms["tfs"]):
        lo, hi = groups[s]
        a, z = int(bounds[lo]), int(bounds[hi])
        dl = np.frombuffer(blob_dl, np.uint32)
        ext = np.frombuffer(blob_ext, np.int64)
        leaves[int(s)] = _Leaf(
            dl, dl.astype(np.float64), ext, np.argsort(ext, kind="stable"),
            int(dl.sum(dtype=np.int64)), _Blobs(gterms.off[lo:hi + 1], gterms.data),
            bounds[lo:hi + 1] - a, first_doc[a:z], n[a:z],
            _Blobs(deltas.off[a:z + 1], deltas.data), _Blobs(tfs.off[a:z + 1], tfs.data),
        )
    return leaves


class _Text(dict):
    """The pack's ``segdata`` entry: {segment_id: leaf} for every live
    segment, and the sorted dictionary of their terms — the ``terms``
    view's distinct terms — with each term's length in code points,
    built on first use."""

    _vocab = None

    def _build(self) -> tuple[np.ndarray, np.ndarray]:
        if self._vocab is None:
            terms = pc.unique(pa.chunked_array(
                [_strings(leaf.terms) for leaf in self.values()], pa.large_string()))
            terms = terms.take(pc.sort_indices(terms))
            self._vocab = (terms.to_numpy(zero_copy_only=False),
                           pc.utf8_length(terms).to_numpy().astype(np.int64))
        return self._vocab

    def vocab(self) -> np.ndarray:
        return self._build()[0]

    def vocab_lengths(self) -> np.ndarray:
        """Each ``vocab()`` term's length in code points (Spark's ``length``)."""
        return self._build()[1]


_TEXT_COLS = ("segment_id", "kind", "term", "block_id", "first_doc", "n", "doc_deltas", "tfs")


def _text_fits(cat: IndexCatalog) -> dict | None:
    """The manifest's tables when the resident text pack serves the
    catalog; None when its segdata committed bytes exceed
    ``TEXT_RESIDENT_MAX_BYTES`` (the pack is then released)."""
    tables = cat.read_manifest()["tables"]
    if R.disk_bytes(cat, "segdata", tables) > R.TEXT_RESIDENT_MAX_BYTES:
        R.pack(cat).drop(lambda name, v: name in ("segdata", "tombstones", "positions"))
        return None
    return tables


def _leaf_entry(cat: IndexCatalog, table: str, tables: dict, build,
                columns=None, where=None, wrap=dict):
    """The pack entry of ``table``: ``wrap({segment_id: leaf})``, the
    leaves ``build(arrow table)`` makes of its rows (``columns``,
    ``where``) in the manifest ``tables``, read by
    ``IndexCatalog.read_arrow`` at first use and extended by the
    directories a commit appends (the dropped segments filtered out in
    the driver). A read that fails (say, one over the driver's memory)
    leaves None, so the catalog takes the Spark tier until the table next
    changes."""

    def read():
        try:
            at = cat.read_arrow(table, columns, where, tables)
            return wrap(build(at)), at.nbytes
        except Exception:
            return None, 0

    def extend(value, snaps: tuple, dropped: tuple):
        if value is None:
            return None
        leaves = {s: v for s, v in value.items() if s not in set(dropped)}
        if not snaps:
            return wrap(leaves), 0
        try:
            at = cat.read_arrow(table, columns, where, tables, appends=snaps)
            new = build(at)
        except Exception:
            return None
        if new.keys() & leaves.keys():
            return None  # a segment in two directories: read the table again
        return wrap({**leaves, **new}), at.nbytes

    return R.pack(cat).get(table, R.entry_key(cat, table, tables), read, extend=extend)


def _text_pack(cat: IndexCatalog) -> _Text | None:
    """The catalog's resident text pack, segdata's ``post`` and ``norms``
    rows read on first use (see :func:`_leaf_entry`); None when it does
    not serve (see :func:`_text_fits`) or could not be read."""
    tables = _text_fits(cat)
    if tables is None:
        return None
    return _leaf_entry(cat, "segdata", tables, _leaves, list(_TEXT_COLS),
                       pc.field("kind").isin(["post", "norms"]), _Text)


def _resident_text(cat: IndexCatalog):
    """(text pack, sorted tombstoned ext_ids or None) when a query can be
    served in the driver; None when it takes the Spark tier (no pack, or
    more than ``FILTER_BROADCAST_MAX`` tombstones)."""
    text = _text_pack(cat)
    if text is None:
        return None
    tables = cat.read_manifest()["tables"]
    ent = tables.get("tombstones") or {}
    n = (ent.get("lineage") or {}).get("n")
    if ent.get("snapshot") is None or n == 0:
        return text, None
    if n is not None and n > FILTER_BROADCAST_MAX:
        return None

    def fill():
        at = cat.read_arrow("tombstones", ["ext_id"], tables=tables)
        arr = np.sort(at.column(0).to_numpy().astype(np.int64))
        return arr, arr.nbytes

    tomb = R.pack(cat).get("tombstones", R.entry_key(cat, "tombstones", tables), fill)
    if tomb.size > FILTER_BROADCAST_MAX:
        return None
    return text, (tomb if tomb.size else None)


def _pack_stats(text: _Text, tomb: np.ndarray | None, terms: list[str]):
    """The Spark tier's live statistics from the pack → (leaves, each
    leaf's {term: (docs, tfs)}, each leaf's tombstoned local ids or None,
    N, avgdl, {term: df}): N and the dl sum count the docs not tombstoned,
    avgdl is their integer sum ÷ N, and df counts live postings."""
    leaves = list(text.values())
    post = [{t: _leaf_postings(leaf, r) for t in terms if (r := _run(leaf, t))} for leaf in leaves]
    if tomb is None:
        dead = [None] * len(leaves)
        n = sum(leaf.dl.size for leaf in leaves)
        total = sum(leaf.dl_sum for leaf in leaves)
        df = {t: sum(p[t][0].size for p in post if t in p) for t in terms}
    else:
        dead = [_resolve_allowed(tomb, leaf.ext_ids) for leaf in leaves]
        lives = [_alive_mask(leaf.dl.size, d, None) for leaf, d in zip(leaves, dead)]
        n = sum(int(lv.sum()) for lv in lives)
        total = sum(int(leaf.dl[lv].sum(dtype=np.int64)) for leaf, lv in zip(leaves, lives))
        df = {t: sum(int(lv[p[t][0]].sum()) for p, lv in zip(post, lives) if t in p) for t in terms}
    return leaves, post, dead, n, (total / n if n else 0.0), df


def _resident_scored(
    spark: SparkSession,
    text: _Text,
    tomb: np.ndarray | None,
    specs: dict[str, dict],
    terms: list[str],
    cfg: IndexConfig,
    allowed_ext: np.ndarray | None,
    visited_limit: int | None,
    batch: bool,
    sort: bool,
) -> DataFrame:
    """The resident tier: the Spark tier's statistics, weights, per-leaf
    kernel and global top-k, run in the driver over the pack → one
    ``LocalRelation`` (see :func:`_scored`)."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    leaves, post, dead, n, avgdl, df = _pack_stats(text, tomb, terms)
    idf_of = {t: idf(n, d) for t, d in df.items() if d > 0}
    specs = {q: w for q, s in specs.items() if n and (w := _weigh(s, idf_of, n, df)) is not None}
    live = {t for s in specs.values() for t in (*s["terms"], *s["exclude"])}
    hits: dict[str, list] = {}
    for leaf, d, p in zip(leaves, dead, post) if specs else ():
        allowed = None if allowed_ext is None else _resolve_allowed(allowed_ext, leaf.ext_ids)
        alive = _alive_mask(leaf.dl.size, d, allowed, visited_limit)
        if not alive.any():
            continue
        lp = {}
        for t in live & p.keys():
            docs, tfs = p[t]
            if visited_limit is not None:
                a, z = _run(leaf, t)
                m = int(leaf.n[a:z][leaf.first_doc[a:z] < visited_limit].sum())
                docs, tfs = docs[:m], tfs[:m]
            if docs.size:
                lp[t] = (docs, tfs.astype(np.float64))
        if not lp:
            continue
        denom = k1 * (1.0 - b + b * leaf.dls / avgdl)
        for q, e, s in zip(*_score_batch_queries(specs, lp, alive, leaf.ext_ids, denom, k1)):
            hits.setdefault(q[0], []).append((e, s))
    cols = []
    for qid, parts in hits.items():
        e = np.concatenate([x[0] for x in parts])
        s = np.concatenate([x[1] for x in parts])
        if sort or batch:
            o = np.lexsort((e, -s))[: specs[qid]["k"]]
            e, s = e[o], s[o]
        cols.append((qid, e, s))
    if not batch:
        e, s = cols[0][1:] if cols else ((), ())
        return local_frame(spark, "ext_id long, score double", e, s)
    order = {q: i for i, q in enumerate(specs)}
    cols.sort(key=lambda c: order[c[0]])
    return local_frame(
        spark, "query_id string, ext_id long, score double, rank int",
        [q for q, e, _ in cols for _ in range(e.size)],
        *(np.concatenate([c[i] for c in cols]) if cols else () for i in (1, 2)),
        np.concatenate([np.arange(1, c[1].size + 1) for c in cols]) if cols else (),
    )


def _scored(
    spark: SparkSession,
    cat: IndexCatalog,
    specs: dict[str, dict],
    cfg: IndexConfig,
    filter_ext_ids: DataFrame | None = None,
    visited_limit: int | None = None,
    batch: bool = False,
    sort: bool = True,
) -> DataFrame:
    """The one driver path of every scored query → its result frame:
    (ext_id, score) in (score desc, ext_id asc) order cut at the query's
    k (every match, unordered, when not ``sort``), or for a ``batch``
    (query_id, ext_id, score, rank) with each query cut at its own k.
    ``specs`` are :func:`_compile` outputs by query id.

    The filter head is read once (at most ``FILTER_BROADCAST_MAX`` + 1
    ids through ``frames.head_arrow``: one Arrow read, no job for a
    ``LocalRelation``, no JVM call for a ``local_frame``): a small
    filter is a sorted ext_id array, a larger one stays a DataFrame for
    the Spark tier's packed-blob cogroup. Then one of two tiers runs, with the same statistics (live
    N, integer-sum avgdl, live df), the same per-term weights
    (:func:`_weigh`), the same per-segment kernel
    (:func:`_score_batch_queries`) and the same (score desc, ext_id asc)
    tie rule, so they return the same (ext_id, score) lists bit for bit:

    - resident (:func:`_resident_scored`): while segdata's committed
      bytes fit ``TEXT_RESIDENT_MAX_BYTES``, the pack could be read, the
      filter is small and the
      tombstones number at most ``FILTER_BROADCAST_MAX``, every leaf is
      scored in the driver over the catalog's pack and the result is one
      ``LocalRelation``: a warm query or batch runs no Spark job;
    - Spark (:func:`_spark_partials`, :func:`_spark_top`): otherwise."""
    terms = list(dict.fromkeys(t for s in specs.values() for t in (*s["terms"], *s["exclude"])))
    if batch:
        terms = sorted(terms)
    empty = "query_id string, ext_id long, score double, rank int" if batch else "ext_id long, score double"
    if not terms:
        return local_frame(spark, empty)
    allowed_ext = aux_filter = None
    if filter_ext_ids is not None:
        head = head_arrow(filter_ext_ids, FILTER_BROADCAST_MAX + 1).column(0)
        if len(head) > FILTER_BROADCAST_MAX:
            aux_filter = filter_ext_ids
        else:  # a null id matches no doc
            allowed_ext = np.sort(head.drop_null().to_numpy().astype(np.int64))
    resident = None if aux_filter is not None else _resident_text(cat)
    if resident is not None:
        return _resident_scored(spark, *resident, specs, terms, cfg, allowed_ext,
                                visited_limit, batch, sort)
    partials = _spark_partials(spark, cat, specs, terms, cfg, allowed_ext, aux_filter,
                               visited_limit, batch)
    if partials is None:
        return local_frame(spark, empty)
    return _spark_top(partials, specs, batch, sort)


# ---------------------------------------------------------------------------
# Driver-side query entry points
# ---------------------------------------------------------------------------


def _has_tombstones(spark: SparkSession, cat: IndexCatalog) -> bool:
    """Manifest-first deletes check: the tombstone row count is recorded in
    the table lineage at write time, so the common no-deletes query path
    costs ZERO Spark jobs here (per-query serial fraction is what caps
    N→4N throughput scaling)."""
    if not cat.exists("tombstones"):
        return False
    lin = cat.table_lineage("tombstones")
    if "n" in lin:
        return lin["n"] > 0
    return not cat.read(spark, "tombstones").isEmpty()


def _aux_df(
    spark: SparkSession,
    cat: IndexCatalog,
    filter_ext_ids: DataFrame | None,
) -> DataFrame:
    """norms + tombstones + allowed-set packed into one cogroup side."""
    norms = cat.read(spark, "norms")
    aux = norms.select("segment_id", F.lit("dls").alias("kind"), F.col("dls").alias("payload")).union(
        norms.select("segment_id", F.lit("ext_ids").alias("kind"), F.col("ext_ids").alias("payload"))
    )
    pack = lambda pdf, kind: pd.DataFrame(  # noqa: E731
        {"segment_id": [int(pdf["segment_id"].iloc[0])],
         "kind": [kind],
         "payload": [np.sort(pdf["doc_id"].to_numpy(np.int32)).tobytes()]}
    )
    aux_schema = "segment_id long, kind string, payload binary"
    if _has_tombstones(spark, cat):
        aux = aux.union(_tomb_aux(spark, cat, pack, aux_schema))
    if filter_ext_ids is not None:
        dm = cat.read(spark, "doc_map")
        fseg = dm.join(filter_ext_ids, "ext_id", "left_semi").select("segment_id", "doc_id")
        aux = aux.union(
            fseg.groupBy("segment_id").applyInPandas(lambda p: pack(p, "allowed"), aux_schema)
        )
    return aux


def _tomb_aux(spark: SparkSession, cat: IndexCatalog, pack, schema: str) -> DataFrame:
    """The aux side's per-segment packed tombstone rows, collected once
    per (statistics version, tombstones entry) into the catalog's pack
    and served as a ``LocalRelation``, instead of a ``doc_map`` ⋈
    ``tombstones`` group-by per query."""

    def fill():
        tomb = cat.read(spark, "tombstones")
        dm = cat.read(spark, "doc_map")
        tseg = dm.join(tomb, "ext_id", "left_semi").select("segment_id", "doc_id")
        rows = tseg.groupBy("segment_id").applyInPandas(lambda p: pack(p, "tomb"), schema).collect()
        cols = [[r[c] for r in rows] for c in ("segment_id", "kind", "payload")]
        return cols, sum(len(p) for p in cols[2])

    key = (stats_version(cat.read_manifest()), R.entry_key(cat, "tombstones"))
    return local_frame(spark, schema, *R.pack(cat).get("tomb_aux", key, fill))


def _query_postings(spark: SparkSession, cat: IndexCatalog, terms: list[str]) -> DataFrame:
    """Postings scan for the query terms: term_bucket partition pruning
    (with the index's own bucket count) + parquet row-group pruning on the
    sorted ``term`` column."""
    n_buckets = index_term_buckets(cat)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    p = cat.read(spark, "postings")
    return p.filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(list(terms)))


def _live_stats_and_df(
    spark: SparkSession,
    cat: IndexCatalog,
    terms: list[str],
    cfg: IndexConfig,
    postings: DataFrame,
    filter_ext_ids: DataFrame | None,
) -> tuple[int, float, dict[str, int]]:
    """(N, avgdl, df-per-term) over LIVE docs (tombstone-aware).

    BM25 statistics are defined over non-deleted docs (the engine's contract;
    Lucene itself leaves stats stale until merge — we are stricter so results
    equal a rebuild, matching the reference's merge-as-rebuild semantics M2).
    The pre-filter (S10) does NOT change stats — it restricts candidates only.

    While the resident pack serves the catalog, the statistics come from
    it with no Spark job (:func:`_pack_stats`, the same integers).
    """
    resident = _resident_text(cat)
    if resident is not None:
        return _pack_stats(*resident, terms)[3:]
    has_tomb = _has_tombstones(spark, cat)
    if not has_tomb:
        n, avgdl = corpus_stats(cat)
        # fast path: the build-time global dictionary (one pruned scan of a
        # term-sorted compact table) when it is still fresh; otherwise
        # aggregate the per-segment term rows. Per-term dfs are memoized on
        # the catalog keyed by the snapshot commit time, so repeat queries
        # over an unchanged index pay ZERO driver-side stats jobs.
        m = cat.read_manifest()
        tg = m["tables"].get("terms_global")
        # sidecar-insensitive version (see catalog.stats_version): a
        # positions build must not invalidate the df memo or mark the
        # dictionary stale — neither changes any term statistic
        latest = stats_version(m)
        fresh = (
            tg is not None
            and tg.get("snapshot")
            and tg.get("committed_at", 0) >= latest
        )
        memo = getattr(cat, "_term_df_memo", None)
        if memo is None or memo.get("ver") != latest:
            memo = {"ver": latest, "df": {}}
            cat._term_df_memo = memo
        missing = [t for t in terms if t not in memo["df"]]
        if missing:
            if fresh:
                tdf = (
                    cat.read(spark, "terms_global")
                    .filter(F.col("term").isin(missing))
                    .select("term", "df")
                    .collect()
                )
            else:
                tdf = (
                    cat.read(spark, "terms")
                    .filter(F.col("term").isin(missing))
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .collect()
                )
            found = {r["term"]: int(r["df"]) for r in tdf}
            for t in missing:
                memo["df"][t] = found.get(t, 0)
        return n, avgdl, {t: memo["df"][t] for t in terms}
    # memoized per (statistics version, tombstones entry) like the df memo
    # above: after a delete, only the first query recomputes N / avgdl and
    # each term's live df is counted once
    key = (stats_version(cat.read_manifest()), R.entry_key(cat, "tombstones"))
    dm = cat.read(spark, "doc_map")
    tomb = cat.read(spark, "tombstones")
    live = dm.join(tomb, "ext_id", "left_anti")
    memo = getattr(cat, "_live_stats_memo", None)
    if memo is None or memo["key"] != key:
        row = live.agg(F.count("*").alias("n"), F.sum("dl").alias("t")).collect()[0]
        n = int(row["n"] or 0)
        memo = {"key": key, "n": n, "avgdl": (int(row["t"] or 0) / n) if n else 0.0, "df": {}}
        cat._live_stats_memo = memo
    missing = [t for t in terms if t not in memo["df"]]
    if missing:
        rows = _live_df_frame(
            spark, cat, postings.filter(F.col("term").isin(missing)), live
        ).collect()
        found = {r["term"]: int(r["df"]) for r in rows}
        for t in missing:
            memo["df"][t] = found.get(t, 0)
    return memo["n"], memo["avgdl"], {t: memo["df"][t] for t in terms}


def _live_df_pdf(pdf):
    """One segment's (postings ∪ alive) union rows → (term, live df)."""
    import pandas as _pd

    out = []
    post = pdf[pdf["side"] == "p"]
    aliv = pdf[pdf["side"] == "a"]
    alive_ids = np.sort(aliv["doc_id_live"].dropna().to_numpy(np.int64))
    for t, grp in post.groupby("term"):
        if alive_ids.size == 0:
            out.append((t, 0))
            continue
        docs = np.concatenate(
            [np.cumsum(varint_decode(r.doc_deltas), dtype=np.int64)
             for r in grp.itertuples()]
        )
        # sorted-membership: searchsorted beats np.isin-over-set rebuild
        pos = np.searchsorted(alive_ids, docs)
        pos = np.minimum(pos, alive_ids.size - 1)
        out.append((t, int((alive_ids[pos] == docs).sum())))
    return _pd.DataFrame(out, columns=["term", "df"])


def _live_df_frame(
    spark: SparkSession,
    cat: IndexCatalog,
    postings: DataFrame,
    live: DataFrame | None = None,
) -> DataFrame:
    """Live df per term as a DATAFRAME (tombstone-aware): decode the
    given postings' blocks per segment beside the segment's live doc
    set, count surviving docs, sum across segments. Fully distributed —
    usable with an unbounded term set (spell suggestions) as well as
    the query-sized lists :func:`_live_stats_and_df` collects."""
    if live is None:
        dm = cat.read(spark, "doc_map")
        tomb = cat.read(spark, "tombstones")
        live = dm.join(tomb, "ext_id", "left_anti")
    pside = postings.select(
        "segment_id", "term", "doc_deltas", F.lit("p").alias("side"),
        F.lit(None).cast("long").alias("doc_id_live"),
    )
    aside = live.select(
        "segment_id", F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("binary").alias("doc_deltas"), F.lit("a").alias("side"),
        F.col("doc_id").cast("long").alias("doc_id_live"),
    )
    return (
        pside.unionByName(aside)
        .groupBy("segment_id")
        .applyInPandas(lambda p: _live_df_pdf(p), "term string, df long")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )


def _topk(
    spark: SparkSession,
    cat: IndexCatalog,
    spec: dict | None,
    cfg: IndexConfig | None,
    filter_ext_ids: DataFrame | None = None,
    visited_limit: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """A single scored query: a batch of one through :func:`_scored` →
    DataFrame(ext_id, score), top-k in (score desc, ext_id asc) order;
    every match, unordered, when ``sort`` is False."""
    if spec is None or spec["k"] <= 0:
        return local_frame(spark, "ext_id long, score double")
    return _scored(spark, cat, {"q": spec}, cfg or IndexConfig(), filter_ext_ids,
                   visited_limit, sort=sort)


def bm25_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    query_terms: list[str],
    k: int = 10,
    mode: str = "or",
    cfg: IndexConfig | None = None,
    filter_ext_ids: DataFrame | None = None,
    visited_limit: int | None = None,
    boosts: dict[str, float] | None = None,
    _no_global_sort: bool = False,
    _synonym: bool = False,
) -> DataFrame:
    """BM25 top-k over the index → DataFrame(ext_id, score), exact scores,
    deterministic tie-break (score desc, ext_id asc). ``mode`` is ``or``
    (any term matches) or ``and`` (every term required); anything else
    raises ``ValueError``.

    ``visited_limit``: optional per-segment doc-visit budget (collector
    visitedLimit analogue) — each segment scores only its docs with local
    id below the budget (Lucene's doc-id visit order) and decodes no
    posting block starting past it; a tiny budget degrades recall, never
    errors.

    ``boosts``: optional term → multiplier map — each clause behaves as
    Lucene's ``BoostQuery(TermQuery, boost)``: its score contribution is
    multiplied, matching is unchanged. Applied as the term's weight
    (idf × boost). Boosts must be > 0; terms absent from the map keep
    boost 1."""
    if _synonym and (mode != "or" or boosts):
        raise ValueError("synonym scoring composes only with mode='or', no boosts")
    if boosts:
        bad = {
            t: w for t, w in boosts.items()
            if not isinstance(w, (int, float)) or not w > 0
        }
        if bad:
            raise ValueError(f"boosts must be positive numbers, got {bad}")
    spec = _compile({"terms": query_terms, "mode": mode, "k": k, "boosts": boosts,
                     "comb": "synonym" if _synonym else "sum"})
    return _topk(spark, cat, spec, cfg, filter_ext_ids, visited_limit, sort=not _no_global_sort)


# effectively-unbounded k for the exhaustive collection pass: the kernel's
# kth-score partition never fires, so every live match is emitted;
# per-segment cost stays ∝ the terms' postings
_ALL_MATCHES_K = 1 << 40


def bm25_scored_matches(
    spark: SparkSession,
    cat: IndexCatalog,
    query_terms: list[str],
    mode: str = "or",
    cfg: IndexConfig | None = None,
    filter_ext_ids: DataFrame | None = None,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """EVERY scored live match (no top-k) → DataFrame(ext_id, score).

    The exhaustive collection pass Lucene's second-phase collectors run
    (grouping's ``TopGroupsCollector``, ``CollapsingTopDocsCollector``,
    facet collection): same scoring machinery as :func:`bm25_topk`, but
    the result is the full match set, unsorted — downstream operators
    (grouping windows, collapse heads) impose their own order. Cost is
    ∝ the query terms' posting sizes (never the corpus), per-segment
    parallel; the output size is the match-set size. :func:`boolean_query`
    (every match-only query) runs the same pass on its compiled
    ``BooleanQuery`` spec and keeps only the ext_ids."""
    return bm25_topk(
        spark, cat, query_terms, k=_ALL_MATCHES_K, mode=mode, cfg=cfg,
        filter_ext_ids=filter_ext_ids, boosts=boosts, _no_global_sort=True,
    )


def dismax_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    query_terms: list[str],
    tie_breaker: float = 0.0,
    k: int = 10,
    cfg: IndexConfig | None = None,
    filter_ext_ids: DataFrame | None = None,
    visited_limit: int | None = None,
) -> DataFrame:
    """Lucene ``DisjunctionMaxQuery`` over BM25 term clauses →
    DataFrame(ext_id, score).

    score(doc) = max over matched terms of the BM25 contribution
    + ``tie_breaker`` × (sum of the other matched terms' contributions)
    — i.e. max + tie × (sum − max), ``0 ≤ tie_breaker ≤ 1``
    (``DisjunctionMaxQuery``'s constructor contract; tie 0 = pure max,
    tie 1 = plain disjunction sum). A doc matches when ≥ 1 term matches.
    Stats (N, avgdl, df→idf) are over live docs, identical to
    :func:`bm25_topk`, and so is the physical shape: one pruned postings
    scan for all clause terms, per-segment scoring, global top-k (score
    desc, ext_id asc)."""
    tie = float(tie_breaker)
    if not 0.0 <= tie <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    spec = _compile({"terms": query_terms, "k": k, "comb": "dismax", "tie": tie})
    return _topk(spark, cat, spec, cfg, filter_ext_ids, visited_limit)


def synonym_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    terms: list[str],
    k: int = 10,
    cfg: IndexConfig | None = None,
    filter_ext_ids: DataFrame | None = None,
) -> DataFrame:
    """Lucene ``SynonymQuery`` top-k → DataFrame(ext_id, score): the
    terms score as ONE pseudo-term — per-doc tf is the SUM across the
    synonyms and docFreq is the MAX across them (``SynonymQuery.
    createWeight`` merges the TermStatistics exactly so), hence BM25's
    tf saturation applies once to the merged frequency instead of once
    per term. Matching is the plain disjunction; same physical shape and
    filter tiers as :func:`bm25_topk`."""
    return bm25_topk(
        spark, cat, terms, k=k, mode="or", cfg=cfg,
        filter_ext_ids=filter_ext_ids, _synonym=True,
    )


def bm25_boolean_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    must: list[str] | tuple = (),
    should: list[str] | tuple = (),
    exclude: list[str] | tuple = (),
    min_should_match: int = 0,
    k: int = 10,
    cfg: IndexConfig | None = None,
    filter_ext_ids: DataFrame | None = None,
    visited_limit: int | None = None,
) -> DataFrame:
    """Lucene's SCORED ``BooleanQuery`` over BM25 term clauses (H5+H6
    combined): score = sum of BM25 contributions of the MATCHED positive
    clauses; a doc matches iff it contains every ``must`` term, at least
    ``min_should_match`` of the ``should`` terms, and no ``exclude`` term
    (``MUST_NOT`` never scores — Lucene's prohibited clauses are
    non-scoring). Defaults follow ``BooleanQuery``: msm is 0 when MUST
    clauses exist (SHOULD then only boosts score), else effectively 1;
    msm greater than the SHOULD count matches nothing. Stats (N, avgdl,
    df→idf) are over live docs, global — boolean structure restricts
    candidates, never statistics, matching ``BM25Similarity``.

    Same physical shape as :func:`bm25_topk` — one pruned postings scan
    for all clause terms (exclude terms ride the scan as a veto mask),
    per-segment scoring, global top-k (score desc, ext_id asc).
    Returns DataFrame(ext_id, score)."""
    spec = _compile(_disjoint({"must": must, "should": should, "exclude": exclude,
                               "min_should_match": min_should_match, "k": k}))
    return _topk(spark, cat, spec, cfg, filter_ext_ids, visited_limit)


def bm25_topk_batch(
    spark: SparkSession,
    cat: IndexCatalog,
    qspecs: dict[str, dict],
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Answer a BATCH of BM25 queries in one pass →
    DataFrame(query_id, ext_id, score, rank). This is the throughput path:
    every term's postings decoded once per segment, one scoring pass, one
    global top-k per query — in the driver on the resident tier (no Spark
    job), else one Spark job: one postings scan for the union of all
    query terms and a windowed top-k. qspecs:
    {query_id: {"terms": [...], "mode": "or"|"and", "k": int}}; a spec
    may also be a scored BooleanQuery — ``{"must": [...], "should":
    [...], "exclude": [...], "min_should_match": m, "k": k}`` with
    :func:`bm25_boolean_topk` semantics (MUST_NOT terms ride the shared
    scan as veto masks and never score)."""
    specs = {qid: c for qid, s in qspecs.items()
             if (c := _compile(_disjoint(s, qid), qid)) is not None}
    return _scored(spark, cat, specs, cfg or IndexConfig(), batch=True)


def term_docs(
    spark: SparkSession,
    cat: IndexCatalog,
    term: str,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """TermQuery (H4): all live ext_ids containing ``term``."""
    return boolean_and(spark, cat, [term], cfg)


def boolean_and(
    spark: SparkSession,
    cat: IndexCatalog,
    terms: list[str],
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Boolean AND (H5): live docs containing every term (MUST) →
    DataFrame(ext_id); no terms match nothing."""
    if not terms:
        return local_frame(spark, "ext_id long")
    return boolean_query(spark, cat, must=terms, cfg=cfg)


def boolean_query(
    spark: SparkSession,
    cat: IndexCatalog,
    must: list[str] | tuple = (),
    any_of: list[str] | tuple = (),
    exclude: list[str] | tuple = (),
    cfg: IndexConfig | None = None,
    min_should_match: int | None = None,
) -> DataFrame:
    """Lucene ``BooleanQuery`` MATCHING semantics (H5 generalized):
    ``must`` = every term required (MUST), ``any_of`` = SHOULD clauses of
    which at least ``min_should_match`` must match
    (``BooleanQuery.Builder.setMinimumNumberShouldMatch``), ``exclude`` =
    none may match (MUST_NOT). Lucene's rules apply exactly: at least one
    positive clause is required (a pure MUST_NOT query raises
    ``ValueError``); ``min_should_match=None`` is the Builder default — 0
    with MUST clauses present (SHOULD is then optional), 1 otherwise; an
    EXPLICIT value is honored strictly, so a value greater than the
    SHOULD clause count matches nothing. The clause lists may overlap.

    As Lucene runs a match-only query through the scored query's
    ``Weight`` with ``ScoreMode.COMPLETE_NO_SCORES``, this is the scoring
    core's query: one compiled spec run by :func:`_topk` with every match
    kept, unsorted (as :func:`bm25_scored_matches`), its scores dropped.
    So both tiers apply tombstones and the clause rules in the one
    segment kernel, and a warm resident query runs no Spark job and makes
    no Py4J call. On the Spark tier it reads no live statistic (see
    :func:`_spark_partials`). Returns DataFrame(ext_id), every live match
    once."""
    if not must and not any_of:
        raise ValueError("at least one positive clause (must / any_of) is required")
    spec = _compile({"must": must, "should": any_of, "exclude": exclude,
                     "min_should_match": min_should_match, "k": _ALL_MATCHES_K,
                     "scores": False})
    m = _topk(spark, cat, spec, cfg, sort=False)
    if isinstance(m, LocalResult):  # project the table: no JVM side built
        return arrow_frame(spark, m.table.select(["ext_id"]))
    return m.select("ext_id")


def boolean_or(
    spark: SparkSession,
    cat: IndexCatalog,
    terms: list[str],
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Boolean OR: docs containing at least one of ``terms`` (SHOULD)."""
    return boolean_query(spark, cat, any_of=terms, cfg=cfg)


def boolean_and_not(
    spark: SparkSession,
    cat: IndexCatalog,
    must: list[str],
    exclude: list[str],
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Boolean AND-NOT: docs with every ``must`` term and no ``exclude``
    term (MUST + MUST_NOT)."""
    return boolean_query(spark, cat, must=must, exclude=exclude, cfg=cfg)


def fetch_stored(
    spark: SparkSession,
    cat: IndexCatalog,
    topk: DataFrame,
    source_docs: DataFrame,
    id_col: str = "ext_id",
) -> DataFrame:
    """Stored-field fetch (H9): join top-k ids back to the source table.
    The top-k side is tiny → broadcast it so the source scan stays local."""
    return source_docs.join(F.broadcast(topk), on=id_col, how="inner")


def hit_count(
    spark: SparkSession,
    cat: IndexCatalog,
    must: list[str] = (),
    any_of: list[str] = (),
    exclude: list[str] = (),
    cfg: IndexConfig | None = None,
    min_should_match: int | None = None,
) -> DataFrame:
    """``IndexSearcher.count(query)`` analogue → one row (n_hits): the
    live-doc count of a :func:`boolean_query` match. A resident match set
    is counted in the driver; on the Spark tier it is an aggregate of the
    match set's map-side partial counts."""
    m = boolean_query(
        spark, cat, must=must, any_of=any_of, exclude=exclude, cfg=cfg,
        min_should_match=min_should_match,
    )
    if isinstance(m, LocalResult):
        return local_frame(spark, "n_hits long", [m.table.num_rows])
    return m.agg(F.count("*").alias("n_hits"))


def sorted_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    source_docs: DataFrame,
    query_terms: list[str],
    sort_col: str,
    k: int = 10,
    ascending: bool = True,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """``TopFieldCollector`` analogue → DataFrame(ext_id, sort_value):
    the query's match set ordered by a stored field instead of relevance
    (``IndexSearcher.search(query, k, new Sort(new SortField(...)))``),
    tie-break ext_id asc — Lucene's implicit doc-id tie-break.

    The sort field lives on the source table (stored-fields model); NULL
    sort values are excluded (Lucene requires docs to have indexed the
    SortField's doc values). Physical shape: match set (∝ the terms'
    postings) → equi-join on the compact id → ``TakeOrderedAndProject``,
    Spark's per-partition bounded top-k + driver merge of k·partitions
    rows — exactly the per-leaf early-terminating TopFieldCollector
    shape index-sorted Lucene segments give (B6/H8's sort is the index-
    side half; this is the query-side collector)."""
    if k <= 0:
        return local_frame(spark, "ext_id long, sort_value double")
    m = boolean_query(spark, cat, any_of=list(query_terms), cfg=cfg)
    vals = source_docs.filter(F.col(sort_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(sort_col).cast("double").alias("sort_value"),
    )
    j = m.join(vals, "ext_id")
    order = (
        [F.asc("sort_value"), F.asc("ext_id")]
        if ascending
        else [F.desc("sort_value"), F.asc("ext_id")]
    )
    return j.orderBy(*order).limit(k).select("ext_id", "sort_value")


def match_all_docs(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """``MatchAllDocsQuery`` → DataFrame(ext_id): every live doc, from
    the doc map minus tombstones (a metadata scan — postings are never
    touched, exactly like Lucene's all-docs iterator over liveDocs)."""
    out = cat.read(spark, "doc_map").select("ext_id")
    if cat.exists("tombstones"):
        out = out.join(cat.read(spark, "tombstones"), "ext_id", "left_anti")
    return out
