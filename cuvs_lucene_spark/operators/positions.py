"""Positional postings + PhraseQuery (host-Lucene query surface, §2.5).

Lucene stores per-(term, doc) position lists (``IndexOptions
.DOCS_AND_FREQS_AND_POSITIONS``) so ``PhraseQuery`` can verify adjacency
by streaming position intersection; the reference relies on the host for
this whole tier (its vector query composes with arbitrary host queries —
GPUKnnFloatVectorQuery.java:21-58). Spark-first equivalent:

- ``positions`` catalog table, ONE row per (segment, term):
  ``ext_ids`` raw int64 docs (sorted), ``counts`` varint per-doc position
  counts, ``pos_blob`` varint within-doc position deltas (first absolute,
  then gaps — Lucene's position delta encoding). The writer encodes each
  segment's stream ONCE and byte-slices the blobs per term
  (``varint_byte_lengths``) — no vocabulary-sized re-encode loop.
- ``phrase_match``: pruned scan of the L phrase terms' rows (pushed
  ``term IN``), per-segment vectorized anchor intersection
  (:func:`_phrase_segment`: key = doc·2²⁰ + shifted position,
  ``np.intersect1d`` per slot) → (ext_id, phrase_tf). No corpus scan, no
  driver-side doc state. A slot may be a LIST of terms (Lucene
  ``MultiPhraseQuery`` — the slot matches any member, e.g. a
  prefix-expanded position): the slot's key sets union before the
  intersection.
- ``phrase_topk``: Lucene ``PhraseWeight`` scoring — idf is the SUM of
  the constituent terms' BM25 idfs (duplicated slots count twice, as
  ``PhraseQuery.getTerms()`` feeds every slot's termStats into
  ``BM25Similarity``), tf is the phrase frequency, norm is the full doc
  length. Stats come from the live-doc machinery bm25_topk uses. Two
  tiers, bit for bit the same:

  - resident: as Lucene runs ``PhraseQuery`` per leaf inside the serving
    process, the catalog's pack (``resident.Pack``) holds the sidecar's
    rows as one ``positions`` entry beside segdata's leaves — per
    segment, byte-offset columns with a sorted term index, read by one
    ``toArrow()`` and extended by appended directories. Each live leaf
    runs :func:`_phrase_segment` in the driver, tombstoned docs drop,
    ``dl`` comes from the leaf's norms, and the top-k is one
    ``LocalRelation``: a warm phrase query runs no Spark job. It serves
    while the resident text tier does and segdata's and the sidecar's
    committed bytes together fit ``TEXT_RESIDENT_MAX_BYTES``;
  - Spark: ``phrase_match``'s ``applyInPandas``, joined with ``doc_map``
    and sorted.

Positions are an OPT-IN sidecar (like Lucene's per-field IndexOptions):
``build_positions`` derives them from the source docs + the committed
``doc_map``. It flushes on the two tiers of ``segments.build_index``: a
source the driver flush takes (``segments.small_docs``: at most
``segments.DRIVER_FLUSH_MAX_DOCS`` rows, string text, no null id or text)
on an index whose segdata fits ``segments.DRIVER_FLUSH_MAX_INDEX_BYTES``
(the driver reads doc_map and the sidecar's segment ids whole) is read
once into the driver, joined with doc_map read by pyarrow
(``IndexCatalog.read_arrow``), checked for coverage, built per segment by
:func:`build_positions_pdf` and written by pyarrow — no other Spark job;
any other source or index runs the Spark join and ``applyInPandas``.
Both raise the same coverage ``ValueError``. After a merge/append changes
the segment set, phrase queries raise ``PositionsStaleError`` until
``refresh_positions`` re-derives the missing segments (group-wise
incremental — untouched segments are never re-read; dead segments' rows
are ignored via a live-segment semi-join, or on the resident tier by
visiting only live leaves). ``span_near``,
``span_first`` and ``highlight`` run on Spark only.
"""

from __future__ import annotations

import itertools
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..frames import arrow_schema, local_frame
from ..functions.tokenize import tokenize_py
from ..functions.varint import varint_byte_lengths, varint_decode, varint_encode
from . import resident as R
from .bm25 import (
    _Blobs,
    _blobs,
    _find,
    _leaf_entry,
    _live_stats_and_df,
    _pack_stats,
    _query_postings,
    _resident_text,
    _segment_runs,
    idf,
)

POS_SCHEMA = (
    "segment_id long, term string, ext_ids binary, counts binary, pos_blob binary"
)
POS_SHIFT = 1 << 20  # max tokens per doc; anchor key = ext_id * SHIFT + pos


class PositionsStaleError(RuntimeError):
    """The positions sidecar does not cover every live segment (a merge,
    append, or streamed epoch changed the segment set since
    ``build_positions``). Run ``refresh_positions`` with the source docs."""


def build_positions_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One segment's (segment_id, ext_id, text) rows → positions rows.

    Same dense-batch shape as the postings flush (factorize + lexsort over
    the whole token stream, boundaries via flatnonzero/reduceat); the
    per-term assembly is pure blob slicing."""
    seg = int(pdf["segment_id"].iloc[0])
    pdf = pdf.sort_values("ext_id", kind="mergesort").reset_index(drop=True)
    ext_doc = pdf["ext_id"].to_numpy(np.int64)
    toks = tokenize_py(pdf["text"])
    counts_per_doc = toks.str.len().to_numpy(np.int64)
    if counts_per_doc.max(initial=0) >= POS_SHIFT:
        raise ValueError(f"doc exceeds {POS_SHIFT} tokens (positions key space)")
    flat = list(itertools.chain.from_iterable(toks))
    empty = pd.DataFrame(
        {
            "segment_id": pd.Series([], dtype="int64"),
            "term": pd.Series([], dtype="object"),
            "ext_ids": pd.Series([], dtype="object"),
            "counts": pd.Series([], dtype="object"),
            "pos_blob": pd.Series([], dtype="object"),
        }
    )
    if not flat:
        return empty
    term_codes, uniq_terms = pd.factorize(pd.array(flat), sort=True)
    term_codes = term_codes.astype(np.int64)
    n_docs = len(pdf)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts_per_doc)
    offs = np.cumsum(counts_per_doc) - counts_per_doc
    pos_in_doc = np.arange(doc_idx.size, dtype=np.int64) - np.repeat(offs, counts_per_doc)
    order = np.lexsort((pos_in_doc, doc_idx, term_codes))
    tc, dx, ps = term_codes[order], doc_idx[order], pos_in_doc[order]
    total = tc.size
    # (term, doc) pair boundaries over the sorted stream
    pair_mask = np.empty(total, dtype=bool)
    pair_mask[0] = True
    pair_mask[1:] = (tc[1:] != tc[:-1]) | (dx[1:] != dx[:-1])
    pair_starts = np.flatnonzero(pair_mask)
    pair_counts = np.diff(np.append(pair_starts, total))
    pair_term = tc[pair_starts]
    pair_ext = ext_doc[dx[pair_starts]]
    # position deltas, reset (absolute) at each pair start
    deltas = ps.copy()
    deltas[1:] -= ps[:-1]
    deltas[pair_starts] = ps[pair_starts]
    # term boundaries over the pair stream
    tmask = np.empty(pair_starts.size, dtype=bool)
    tmask[0] = True
    tmask[1:] = pair_term[1:] != pair_term[:-1]
    t_starts = np.flatnonzero(tmask)
    t_ends = np.append(t_starts[1:], pair_starts.size)
    # whole-segment blobs, sliced per term at value boundaries
    pos_blob = varint_encode(deltas)
    pos_bs = np.concatenate(([0], np.cumsum(varint_byte_lengths(deltas))))
    cnt_blob = varint_encode(pair_counts)
    cnt_bs = np.concatenate(([0], np.cumsum(varint_byte_lengths(pair_counts))))
    ext_raw = pair_ext.tobytes()  # raw int64 (ext ids may exceed 2^32)
    tok_bounds = np.append(pair_starts[t_starts], total)
    return pd.DataFrame(
        {
            "segment_id": np.full(t_starts.size, seg, dtype=np.int64),
            "term": np.asarray(uniq_terms, dtype=object)[pair_term[t_starts]],
            "ext_ids": [
                ext_raw[a * 8 : b * 8] for a, b in zip(t_starts, t_ends)
            ],
            "counts": [
                cnt_blob[cnt_bs[a] : cnt_bs[b]] for a, b in zip(t_starts, t_ends)
            ],
            "pos_blob": [
                pos_blob[pos_bs[a] : pos_bs[b]]
                for a, b in zip(tok_bounds[:-1], tok_bounds[1:])
            ],
        }
    )


POS_ARROW = arrow_schema(POS_SCHEMA)


def positions_arrow(pdf: pd.DataFrame) -> pa.Table:
    """(segment_id, ext_id, text) rows → positions rows in the driver,
    :func:`build_positions_pdf` per segment."""
    return pa.concat_tables(
        [POS_ARROW.empty_table()]
        + [pa.Table.from_pandas(build_positions_pdf(g), POS_ARROW, preserve_index=False)
           for _, g in pdf.groupby("segment_id", sort=True)]
    )


def _decode_positions(ext_ids, counts, pos_blob) -> np.ndarray:
    """One positions row's blobs → keys = ext·SHIFT + absolute position,
    ascending."""
    ext = np.frombuffer(ext_ids, dtype=np.int64)
    counts = varint_decode(counts)
    vals = varint_decode(pos_blob)
    if vals.size == 0:
        return np.empty(0, np.int64)
    cum = np.cumsum(vals)
    starts = np.cumsum(counts) - counts
    base = cum[starts] - vals[starts]
    absolute = cum - np.repeat(base, counts)
    return np.repeat(ext, counts) * POS_SHIFT + absolute


def _term_keys(parts: list[np.ndarray]) -> np.ndarray:
    """One term's decoded rows in a segment → its keys, ascending and
    unique: np.unique (not a sort) when there are several rows, so a
    duplicated sidecar row — e.g. a crash-repair overlap — cannot break
    the ``assume_unique`` intersections."""
    keys = np.concatenate(parts)
    return np.unique(keys) if len(parts) > 1 else keys


def _udf_by_term(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    """A segment's positions rows (one UDF group) → {term: keys}."""
    return {
        term: _term_keys([_decode_positions(r.ext_ids, r.counts, r.pos_blob)
                          for r in grp.itertuples()])
        for term, grp in pdf.groupby("term")
    }


def _phrase_segment(by_term: dict[str, np.ndarray], slots: list[list[str]]):
    """The phrase kernel of one segment → (ext_ids ascending, phrase_tf).

    Decoded keys of each term, unioned per slot (a ``MultiPhraseQuery``
    slot matches any member), then for slot j the anchor sets keyed
    ext·SHIFT + (pos − j) are intersected — all numpy, no per-doc loop.
    Both tiers call it: the Spark tier's UDF per segment group, the
    resident tier per leaf."""
    empty = np.empty(0, np.int64)
    anchors = None
    for j, slot_terms in enumerate(slots):
        present = [by_term[t] for t in slot_terms if t in by_term]
        if not present:
            return empty, empty
        if len(present) == 1:
            keys = present[0]
        else:
            # union slot (MultiPhraseQuery): distinct terms can't share
            # a (doc, position) key, so the union stays duplicate-free
            keys = np.unique(np.concatenate(present))
        if j:
            shifted = keys - j
            # a shifted position must stay inside its own doc's space
            shifted = shifted[(keys % POS_SHIFT) >= j]
            anchors = np.intersect1d(anchors, shifted, assume_unique=True)
        else:
            anchors = keys
        if anchors.size == 0:
            return empty, empty
    docs, tfs = np.unique(anchors // POS_SHIFT, return_counts=True)
    return docs, tfs.astype(np.int64)


def _live_segs(spark: SparkSession, cat) -> DataFrame:
    return cat.read(spark, "doc_map").select("segment_id").distinct()


def _missing_segs(spark: SparkSession, cat) -> DataFrame:
    """Live segments the sidecar does not cover (DataFrame — never a
    driver-side set; at 10⁶ segments this stays a metadata-scale
    anti-join). The driver flush's :func:`_driver_missing` reads the same
    set into the driver, only under ``DRIVER_FLUSH_MAX_INDEX_BYTES``."""
    live = _live_segs(spark, cat)
    if not cat.exists("positions"):
        return live
    pos = cat.read(spark, "positions").select("segment_id").distinct()
    return live.join(pos, "segment_id", "left_anti")


def _build_segments(
    spark: SparkSession, cat, docs: DataFrame, segments: DataFrame | None,
    content_col: str, id_col: str,
) -> DataFrame:
    """Positions rows for the given segment set (None = every live
    segment). The doc_map join restricts the source scan; the segment
    restriction is a broadcast semi-join, never a collected id list."""
    dm = cat.read(spark, "doc_map").select("segment_id", "ext_id")
    if segments is not None:
        dm = dm.join(F.broadcast(segments), "segment_id", "left_semi")
    src = docs.select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(content_col).alias("text"),
    )
    joined = src.join(dm, "ext_id")
    # the sidecar must cover every indexed doc of these segments: a source
    # missing docs (or duplicating ext_ids) would otherwise write a silently
    # partial/doubled sidecar that phrase queries trust forever
    exp = dm.groupBy("segment_id").agg(F.count("*").alias("n_exp"))
    got = joined.groupBy("segment_id").agg(F.count("*").alias("n_got"))
    bad = (
        exp.join(got, "segment_id", "left")
        .where(F.coalesce(F.col("n_got"), F.lit(0)) != F.col("n_exp"))
    )
    row = bad.select("segment_id", "n_exp", "n_got").first()
    if row is not None:
        raise _coverage_error(row["segment_id"], row["n_got"], row["n_exp"])
    return joined.groupBy("segment_id").applyInPandas(
        lambda p: build_positions_pdf(p), POS_SCHEMA
    )


def _coverage_error(seg, n_got, n_exp) -> ValueError:
    return ValueError(
        f"positions build: segment {seg} has {n_got or 0} source docs for "
        f"{n_exp} indexed docs — the docs DataFrame must contain every "
        "indexed doc exactly once"
    )


def _small_source(
    cat, docs: DataFrame, content_col: str, id_col: str
) -> pd.DataFrame | None:
    """A string-text source the driver flush takes (``segments.small_docs``)
    as (ext_id, text) rows, on an index small enough for the driver to
    read its doc_map (``segments.driver_index``); None sends the build to
    the Spark tier."""
    from .segments import driver_index, small_docs

    if docs.schema[content_col].dataType.typeName() != "string" or not driver_index(cat):
        return None
    src = small_docs(docs.select(F.col(id_col).cast("long").alias("ext_id"),
                                 F.col(content_col).alias("content")))
    return None if src is None else src.rename(columns={"content": "text"})


def _driver_missing(cat) -> tuple[pd.DataFrame, np.ndarray]:
    """(doc_map's (segment_id, ext_id) rows, the live segments the
    sidecar does not cover), read by pyarrow."""
    dm = cat.read_arrow("segdata", ["segment_id", "ext_id"],
                        where=pc.field("kind") == "doc").to_pandas()
    live = np.unique(dm["segment_id"].to_numpy())
    if cat.exists("positions"):
        covered = cat.read_arrow("positions", ["segment_id"]).column(0).to_numpy()
        live = np.setdiff1d(live, covered)
    return dm, live


def _driver_segments(src: pd.DataFrame, dm: pd.DataFrame, segments: np.ndarray) -> pa.Table:
    """:func:`_build_segments` in the driver: the source joined with the
    given segments' doc_map rows, the same coverage check, then
    :func:`positions_arrow`."""
    dm = dm[dm["segment_id"].isin(segments)]
    joined = src.merge(dm, on="ext_id")
    exp = dm.groupby("segment_id").size()
    got = joined.groupby("segment_id").size().reindex(exp.index, fill_value=0)
    bad = exp.index[(got != exp).to_numpy()]
    if len(bad):
        raise _coverage_error(bad[0], got[bad[0]], exp[bad[0]])
    return positions_arrow(joined)


def build_positions(
    spark: SparkSession,
    cat,
    docs: DataFrame,
    cfg: IndexConfig | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Derive the positions sidecar for every live segment (opt-in, like
    enabling positions in a Lucene field's IndexOptions). Idempotent."""
    src = _small_source(cat, docs, content_col, id_col)
    if src is not None:
        dm, missing = _driver_missing(cat)
        if cat.exists("positions") and missing.size == 0:
            return
        out = _driver_segments(src, dm, np.unique(dm["segment_id"].to_numpy()))
        cat.write_arrow(out, "positions", sort_by=["term"])
        return
    if cat.exists("positions") and _missing_segs(spark, cat).limit(1).count() == 0:
        return
    out = _build_segments(spark, cat, docs, None, content_col, id_col)
    cat.write(out, "positions", sort_within_partitions=["term"])


def refresh_positions(
    spark: SparkSession,
    cat,
    docs: DataFrame,
    cfg: IndexConfig | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Group-wise incremental repair after merge/append: build ONLY live
    segments missing from the sidecar and append their rows; untouched
    segments are never re-read (rows of dead segments are ignored at query
    time by the live-segment semi-join). Returns #segments built."""
    src = _small_source(cat, docs, content_col, id_col)
    if src is not None:
        dm, missing = _driver_missing(cat)
        if missing.size == 0:
            return 0
        out = _driver_segments(src, dm, missing)
        if cat.exists("positions"):
            cat.append_arrow(out, "positions")
        else:
            cat.write_arrow(out, "positions", sort_by=["term"])
        return int(missing.size)
    missing = _missing_segs(spark, cat)
    n_missing = missing.count()  # merge-bounded metadata job
    if n_missing == 0:
        return 0
    out = _build_segments(spark, cat, docs, missing, content_col, id_col)
    if cat.exists("positions"):
        cat.append(out, "positions")
    else:
        cat.write(out, "positions", sort_within_partitions=["term"])
    return n_missing


def _sidecar_fresh(spark: SparkSession, cat) -> bool:
    """Memoized coverage check: does the sidecar cover every live
    segment? Keyed on (stats version, positions commit time), so a repeat
    query on an unchanged index pays ZERO staleness jobs — the anti-join
    re-runs only after a commit that could actually change coverage
    (build/merge/delete or a positions rebuild)."""
    from cuvs_lucene_spark.sources.catalog import stats_version

    m = cat.read_manifest()
    key = (
        stats_version(m),
        m["tables"].get("positions", {}).get("committed_at", 0),
    )
    memo = getattr(cat, "_pos_fresh_memo", None)
    if memo is not None and memo["ver"] == key:
        return memo["ok"]
    ok = _missing_segs(spark, cat).limit(1).count() == 0
    cat._pos_fresh_memo = {"ver": key, "ok": ok}
    return ok


def _phrase_rows(spark: SparkSession, cat, terms: list[str]) -> DataFrame:
    if not cat.exists("positions"):
        raise PositionsStaleError(
            "no positions sidecar — run build_positions(spark, cat, docs)"
        )
    if not _sidecar_fresh(spark, cat):
        raise PositionsStaleError(
            "positions sidecar missing live segments — "
            "run refresh_positions(spark, cat, docs)"
        )
    rows = cat.read(spark, "positions").filter(F.col("term").isin(terms))
    # ignore rows of segments dropped by a merge (dead segments)
    return rows.join(F.broadcast(_live_segs(spark, cat)), "segment_id", "left_semi")


def _norm_slots(phrase) -> list[list[str]]:
    """Phrase spec → per-slot term lists: a plain term is a 1-term slot
    (PhraseQuery), a list is a union slot (MultiPhraseQuery). Empty terms
    are dropped; an explicitly empty slot is an error."""
    slots: list[list[str]] = []
    for slot in phrase:
        terms = [slot] if isinstance(slot, str) else list(slot)
        terms = list(dict.fromkeys(t for t in terms if t))
        if not terms and not isinstance(slot, str):
            raise ValueError("multi-phrase slot has no terms")
        if terms:
            slots.append(terms)
    return slots


def phrase_match(
    spark: SparkSession,
    cat,
    phrase,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Exact-phrase matcher → DataFrame(ext_id, phrase_tf), live docs only.

    Each slot may be one term (Lucene ``PhraseQuery``) or a LIST of terms
    (``MultiPhraseQuery`` — the slot matches ANY of them, e.g. a
    prefix-expanded position). Per segment: decode each distinct term's
    position keys once, union them per slot, then for slot j intersect
    anchor sets keyed ext·SHIFT + (pos − j) — all numpy, no per-doc loop.
    Tombstones apply as a left-anti (set semantics are unchanged by pre-
    vs post-filtering a match set)."""
    slots = _norm_slots(phrase)
    if not slots:
        return local_frame(spark, "ext_id long, phrase_tf long")
    uniq = list(dict.fromkeys(t for s in slots for t in s))
    rows = _phrase_rows(spark, cat, uniq)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, tfs = _phrase_segment(_udf_by_term(pdf), slots)
        return pd.DataFrame({"ext_id": docs, "phrase_tf": tfs})

    out = rows.groupby("segment_id").applyInPandas(
        lambda p: match(p), "ext_id long, phrase_tf long"
    )
    if cat.exists("tombstones"):
        out = out.join(cat.read(spark, "tombstones"), "ext_id", "left_anti")
    return out


class _PosLeaf(NamedTuple):
    """One segment's positions rows in the resident pack, sorted by term
    (a duplicated row repeats its term): each column a ``_Blobs``."""

    terms: _Blobs  # UTF-8
    ext_ids: _Blobs
    counts: _Blobs
    pos_blob: _Blobs


def _pos_leaves(at: pa.Table) -> dict[int, _PosLeaf]:
    """positions rows → {segment_id: leaf}, no per-row Python object."""
    at = at.sort_by([("segment_id", "ascending"), ("term", "ascending")])
    seg = at.column("segment_id").to_numpy()
    cols = [_blobs(at.column(c)) for c in ("term", "ext_ids", "counts", "pos_blob")]
    return {s: _PosLeaf(*(_Blobs(c.off[a:z + 1], c.data) for c in cols))
            for s, (a, z) in _segment_runs(seg, np.unique(seg)).items()}


def _resident_positions(spark: SparkSession, cat):
    """(text pack, tombstones, positions entry) when a phrase query is
    served in the driver: the resident text tier serves
    (:func:`bm25._resident_text`), and segdata's and the sidecar's
    committed bytes together fit ``TEXT_RESIDENT_MAX_BYTES`` — the driver
    then never holds more than was measured. The entry is
    {segment_id: :class:`_PosLeaf`}, read and extended as segdata's
    (:func:`bm25._leaf_entry`: one ``toArrow()``, then the directories an
    epoch or ``refresh_positions`` appends). None otherwise — no sidecar
    included, the Spark tier raising its error — and after a read that
    failed, until the sidecar next changes."""
    resident = _resident_text(spark, cat)
    if resident is None or not cat.exists("positions"):
        return None
    tables = cat.read_manifest()["tables"]
    if (R.disk_bytes(cat, "segdata", tables) + R.disk_bytes(cat, "positions", tables)
            > R.TEXT_RESIDENT_MAX_BYTES):
        R.pack(cat).drop(lambda name, v: name == "positions")
        return None
    pos = _leaf_entry(spark, cat, "positions", tables, _pos_leaves)
    return None if pos is None else (*resident, pos)


def _row(blobs: _Blobs, i: int) -> np.ndarray:
    return blobs.data[blobs.off[i]:blobs.off[i + 1]]


def _resident_phrase(
    spark: SparkSession, text, tomb, pos: dict, slots: list[list[str]],
    idf_sum: float, avgdl: float, k: int, cfg: IndexConfig,
) -> DataFrame:
    """The resident phrase tier: :func:`_phrase_segment` per live leaf
    over the pack's positions rows, tombstoned docs dropped, ``dl`` from
    the leaf's norms, scored in the Spark tier's float64 operation order,
    then the (score desc, ext_id asc) top-k → one ``LocalRelation``."""
    if any(s not in pos for s in text):
        raise PositionsStaleError(
            "positions sidecar missing live segments — "
            "run refresh_positions(spark, cat, docs)"
        )
    k1, b = cfg.bm25.k1, cfg.bm25.b
    keys = {t: t.encode() for s in slots for t in s}
    exts, scores = [], []
    for s, leaf in text.items():
        pl = pos[s]
        by_term = {}
        for t, key in keys.items():
            lo, hi = _find(pl.terms, key)
            if hi > lo:
                by_term[t] = _term_keys([
                    _decode_positions(_row(pl.ext_ids, i), _row(pl.counts, i), _row(pl.pos_blob, i))
                    for i in range(lo, hi)
                ])
        docs, tfs = _phrase_segment(by_term, slots)
        if tomb is not None and docs.size:
            at = np.minimum(np.searchsorted(tomb, docs), tomb.size - 1)
            keep = tomb[at] != docs
            docs, tfs = docs[keep], tfs[keep]
        if not docs.size:
            continue
        dl = leaf.dls[leaf.by_ext[np.searchsorted(leaf.ext_ids, docs, sorter=leaf.by_ext)]]
        tf = tfs.astype(np.float64)
        exts.append(docs)
        scores.append(idf_sum * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
    e = np.concatenate(exts) if exts else np.empty(0, np.int64)
    sc = np.concatenate(scores) if scores else np.empty(0, np.float64)
    o = np.lexsort((e, -sc))[:k]
    return local_frame(spark, "ext_id long, score double", e[o], sc[o])


def phrase_topk(
    spark: SparkSession,
    cat,
    phrase,
    k: int = 10,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Scored Phrase/MultiPhraseQuery → DataFrame(ext_id, score), top-k.

    Lucene ``PhraseWeight`` semantics: idf = Σ idf(term) over every slot's
    terms (``PhraseQuery.getTerms()`` passes every slot's termStats,
    duplicates included; for MultiPhraseQuery every union-slot member
    counts, and terms with df = 0 are skipped — ``IndexSearcher.
    termStatistics`` returns null for them), tf = phrase frequency, norm =
    full doc length; stats over live docs (fresh-reader strictness, as
    bm25_topk).

    Two tiers with the same statistics, kernel (:func:`_phrase_segment`),
    score expression and tie rule, so they return the same (ext_id,
    score) lists bit for bit: while :func:`_resident_positions` serves,
    the resident tier (:func:`_resident_phrase`, no Spark job once warm);
    otherwise :func:`phrase_match` joined with ``doc_map`` and sorted on
    Spark."""
    cfg = cfg or IndexConfig()
    slots = _norm_slots(phrase)
    if k <= 0 or not slots:
        return local_frame(spark, "ext_id long, score double")
    uniq = list(dict.fromkeys(t for s in slots for t in s))
    resident = _resident_positions(spark, cat)
    if resident is None:
        postings = _query_postings(spark, cat, uniq, cfg)
        n, avgdl, df_by_term = _live_stats_and_df(spark, cat, uniq, cfg, postings, None)
    else:
        n, avgdl, df_by_term = _pack_stats(*resident[:2], uniq)[3:]
    if n == 0 or any(
        all(df_by_term.get(t, 0) == 0 for t in s) for s in slots
    ):
        return local_frame(spark, "ext_id long, score double")
    idf_sum = float(sum(
        idf(n, df_by_term[t])
        for s in slots for t in s if df_by_term.get(t, 0) > 0
    ))
    if resident is not None:
        return _resident_phrase(spark, *resident, slots, idf_sum, avgdl, k, cfg)
    matches = phrase_match(spark, cat, slots, cfg)
    dl = cat.read(spark, "doc_map").select("ext_id", "dl")
    k1, b = cfg.bm25.k1, cfg.bm25.b
    scored = matches.join(dl, "ext_id").select(
        "ext_id",
        (
            F.lit(idf_sum)
            * F.col("phrase_tf") * (k1 + 1.0)
            / (F.col("phrase_tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("ext_id")).limit(k)


def span_first(
    spark: SparkSession,
    cat,
    term: str,
    end: int,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Lucene ``SpanFirstQuery(SpanTermQuery(term), end)`` →
    DataFrame(ext_id): live docs where ``term`` occurs at a position
    < ``end`` (spans ending within the first ``end`` positions; a
    unit-length term span ending at p+1 qualifies iff p+1 ≤ end).

    Same physical shape as the other sidecar queries: a pruned scan of
    ONE term's position rows, per-segment numpy mask — cost ∝ that
    term's postings."""
    if not term:
        raise ValueError("span_first needs a term")
    if end <= 0:
        return local_frame(spark, "ext_id long")
    rows = _phrase_rows(spark, cat, [term])
    end_i = int(end)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = _term_keys([_decode_positions(r.ext_ids, r.counts, r.pos_blob)
                           for r in pdf.itertuples()])
        hits = keys[keys % POS_SHIFT < end_i]
        return pd.DataFrame({"ext_id": np.unique(hits // POS_SHIFT)})

    out = rows.groupby("segment_id").applyInPandas(
        lambda p: match(p), "ext_id long"
    )
    out = out.distinct()
    if cat.exists("tombstones"):
        out = out.join(cat.read(spark, "tombstones"), "ext_id", "left_anti")
    return out


def span_near(
    spark: SparkSession,
    cat,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Lucene ``SpanNearQuery`` over single-term clauses →
    DataFrame(ext_id), live docs only (constant-score match set, like the
    multi-term ``*_docs`` queries).

    - ``in_order=True``: positions p_0 < … < p_{L-1} with term_j at p_j
      and span width p_{L-1} − p_0 − (L−1) ≤ slop (``SpanNearQuery``'s
      ordered matcher with unit-length clauses).
    - ``in_order=False``: some window of slop + L consecutive positions
      contains every term. Terms must be distinct (one position per
      clause is then automatic — the tokenizer emits one term per
      position).

    Physical shape is :func:`phrase_match`'s: a PRUNED scan of just the
    span terms' position rows (pushed isin on the sidecar), per-segment
    numpy matching — vectorized searchsorted chains, no per-doc Python
    loop, no corpus scan. Scale: cost ∝ the queried terms' posting sizes
    only, embarrassingly parallel across segments.

    Reference: the host-Lucene proximity surface next to PhraseQuery
    (SURVEY.md §2.5); span width accounting per
    ``SpanNearQuery.SpanNearWeight`` with unit-length term spans.
    """
    L = len(terms)
    if L < 2:
        raise ValueError("span_near needs >= 2 terms")
    if len(set(terms)) != L:
        raise ValueError("span_near terms must be distinct")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    rows = _phrase_rows(spark, cat, list(terms))
    w = int(slop) + L - 1  # max key distance first→last inside one doc
    term_order = list(terms)
    ordered = bool(in_order)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"ext_id": pd.Series([], dtype="int64")})
        by_term = _udf_by_term(pdf)
        if any(t not in by_term for t in term_order):
            return empty  # a clause has no position in this segment
        A = [by_term[t] for t in term_order]
        if ordered:
            # left→right DP: f[i] = MAX chain start over chains ending at
            # A[j][i]. Max start == tightest window; cross-doc starts have
            # strictly smaller keys than same-doc ones, so the end-of-chain
            # same-doc check below never masks a feasible same-doc chain.
            f = A[0]
            prev = A[0]
            for j in range(1, L):
                cm = np.maximum.accumulate(f)
                idx = np.searchsorted(prev, A[j], side="left")  # prev < cur
                g = np.where(idx > 0, cm[np.maximum(idx - 1, 0)], np.int64(-1))
                f, prev = g, A[j]
            last = A[-1]
            ok = (f >= 0) & (last - f <= w) & (last // POS_SHIFT == f // POS_SHIFT)
            hits = last[ok]
        else:
            # for every candidate window start (any term occurrence), the
            # tightest covering window ends at max over terms of the next
            # occurrence ≥ start; a match is a window of width ≤ w
            merged = np.unique(np.concatenate(A))
            sent = np.iinfo(np.int64).max
            wend = np.full(merged.size, np.int64(-1))
            for a in A:
                idx = np.searchsorted(a, merged, side="left")
                nxt = np.where(
                    idx < a.size, a[np.minimum(idx, a.size - 1)], sent
                )
                np.maximum(wend, nxt, out=wend)
            ok = (wend != sent) & (wend - merged <= w) & (
                wend // POS_SHIFT == merged // POS_SHIFT
            )
            hits = merged[ok]
        if hits.size == 0:
            return empty
        return pd.DataFrame({"ext_id": np.unique(hits // POS_SHIFT)})

    out = rows.groupby("segment_id").applyInPandas(
        lambda p: match(p), "ext_id long"
    )
    # distinct across segments is a no-op (a doc lives in one segment) but
    # keeps the contract explicit after future repartitions
    out = out.distinct()
    if cat.exists("tombstones"):
        out = out.join(cat.read(spark, "tombstones"), "ext_id", "left_anti")
    return out
