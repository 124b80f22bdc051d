"""Hierarchical segment merge with salted two-stage posting merge
(SURVEY.md §2.3 M1-M6, §3.3).

Reference semantics: merge = delete-filtered concatenation of input
segments' rows, docIDs remapped, index fully rebuilt
(``CuVS2510GPUVectorsWriter.vectorBasedMerge:479-488`` — M2). A native
index-merge path exists but is intentionally unused (M3). Our
implementation merges *sorted posting streams* instead of re-tokenizing
(the optimization M3 gestures at), but its observable semantics are
property-tested equal to a fresh rebuild (tests/test_merge.py), exactly
what ``TestMerge`` asserts of the reference.

Scale design:
- Hot-term skew (``def``/``import``-class tokens at 10^12 files) is the
  one brutal shuffle: posting rows for a term concentrate on one reducer.
  Defused with a deterministic salted two-stage merge (north rule):
  stage 1 groups by (group, term, salt=segment_id % S) — each salt bucket
  merges a disjoint subset of segments into one partial run; stage 2
  k-way-merges ≤S partial runs per (group, term). Salt is derived from
  segment_id, so a re-run is bit-identical (resumability).
- Merge reads only postings + norms blobs, never query-side structures
  (M4: the reference skips GPU index loading under Context.MERGE).
- Tombstoned docs drop out during remap (M5) and their tombstones are
  cleared; new doc order is ext_id ascending across the group (M6 index-
  sorted merge — same frozen rule as the initial build).
- Table rewrites commit through catalog snapshots: a crash mid-merge
  leaves the previous snapshot visible (atomic swap).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.frames import local_frame
from cuvs_lucene_spark.functions.varint import varint_decode, varint_encode
from cuvs_lucene_spark.operators.segments import (
    NORMS_SCHEMA,
    POSTINGS_SCHEMA,
    SEGDATA_SORT,
    SEGDATA_VIEWS,
    build_norms_pdf,
    grouped_dense_rank,
    segment_stats,
    to_segdata,
)
from cuvs_lucene_spark.sources.catalog import IndexCatalog

# merged-segment id namespace: gen * 2^16 + group index above 2^42 —
# disjoint from the range (≪ 2^40), partition ([2^40, 2^41)) and streaming
# ([2^41, ~2^42)) namespaces, and NEVER reuses a dropped id (ids must be
# fresh because merged-away segments are dropped logically, not rewritten)
MERGE_BASE = 1 << 42

PARTIAL_SCHEMA = (
    "gkey long, term string, term_bucket int, salt int, "
    "doc_deltas binary, tfs binary, n int, max_tf int, sum_tf long"
)
MAPPING_SCHEMA = "gkey long, salt int, old_segment long, old_docs binary, new_docs binary"


def _decode_run(doc_deltas: bytes, tfs: bytes) -> tuple[np.ndarray, np.ndarray]:
    return (
        np.cumsum(varint_decode(doc_deltas), dtype=np.int64),
        varint_decode(tfs),
    )


def _encode_run(docs: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    deltas = np.empty(docs.size, dtype=np.int64)
    if docs.size:
        deltas[0] = docs[0]
        np.subtract(docs[1:], docs[:-1], out=deltas[1:])
    return varint_encode(deltas), varint_encode(tfs)


def _merge_runs(runs: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """k-way merge of sorted (docs, tfs) runs with disjoint doc ids."""
    docs = np.concatenate([r[0] for r in runs])
    tfs = np.concatenate([r[1] for r in runs])
    order = np.argsort(docs, kind="mergesort")
    return docs[order], tfs[order]


def _stage1_fn(salt_factor: int):
    """(gkey, salt) cogroup: postings rows + mapping blobs → one partial
    remapped sorted run per term."""

    def fn(key, postings: pd.DataFrame, mapping: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "gkey": pd.Series([], dtype="int64"),
                "term": pd.Series([], dtype="object"),
                "term_bucket": pd.Series([], dtype="int32"),
                "salt": pd.Series([], dtype="int32"),
                "doc_deltas": pd.Series([], dtype="object"),
                "tfs": pd.Series([], dtype="object"),
                "n": pd.Series([], dtype="int32"),
                "max_tf": pd.Series([], dtype="int32"),
                "sum_tf": pd.Series([], dtype="int64"),
            }
        )
        if postings.empty or mapping.empty:
            return empty
        gkey, salt = int(key[0]), int(key[1])
        remap = {
            int(r.old_segment): (
                np.frombuffer(r.old_docs, dtype=np.int32).astype(np.int64),
                np.frombuffer(r.new_docs, dtype=np.int64),
            )
            for r in mapping.itertuples()
        }
        out = []
        postings = postings.sort_values(["term", "segment_id", "block_id"])
        for (term, bucket), grp in postings.groupby(["term", "term_bucket"], sort=False):
            runs = []
            for seg, sgrp in grp.groupby("segment_id", sort=True):
                if seg not in remap:
                    continue  # fully-deleted segment
                old_docs, new_docs = remap[seg]
                docs = np.concatenate(
                    [np.cumsum(varint_decode(r.doc_deltas), dtype=np.int64) for r in sgrp.itertuples()]
                )
                tfs = np.concatenate([varint_decode(r.tfs) for r in sgrp.itertuples()])
                idx = np.searchsorted(old_docs, docs)
                idx = np.minimum(idx, old_docs.size - 1) if old_docs.size else idx
                live = old_docs.size > 0
                mask = (old_docs[idx] == docs) if live else np.zeros(docs.size, bool)
                if not mask.any():
                    continue
                # remapped ids are ascending (doc order within a segment is
                # ext_id order, preserved by the group-wide ext_id sort)
                runs.append((new_docs[idx[mask]], tfs[mask]))
            if not runs:
                continue
            docs, tfs = _merge_runs(runs)
            dd, tt = _encode_run(docs, tfs)
            out.append(
                (gkey, term, int(bucket), salt, dd, tt, docs.size, int(tfs.max()), int(tfs.sum()))
            )
        if not out:
            return empty
        return pd.DataFrame(
            out,
            columns=[
                "gkey", "term", "term_bucket", "salt",
                "doc_deltas", "tfs", "n", "max_tf", "sum_tf",
            ],
        )

    return fn


def _stage2_fn(newseg_by_gkey: dict[int, int], block_size: int):
    """(gkey, term) group of ≤S partial runs → final posting blocks."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        gkey = int(pdf["gkey"].iloc[0])
        seg = newseg_by_gkey[gkey]
        rows = []
        for (term, bucket), grp in pdf.groupby(["term", "term_bucket"], sort=True):
            runs = [_decode_run(r.doc_deltas, r.tfs) for r in grp.itertuples()]
            docs, tfs = _merge_runs(runs)
            for b0 in range(0, docs.size, block_size):
                d = docs[b0 : b0 + block_size]
                t = tfs[b0 : b0 + block_size]
                dd, tt = _encode_run(d, t)
                rows.append(
                    (
                        seg, term, int(bucket), b0 // block_size,
                        int(d[0]), int(d[-1]), d.size, int(t.max()), int(t.sum()),
                        dd, tt,
                    )
                )
        cols = [
            "segment_id", "term", "term_bucket", "block_id",
            "first_doc", "last_doc", "n", "max_tf", "sum_tf",
            "doc_deltas", "tfs",
        ]
        if not rows:
            return pd.DataFrame({c: [] for c in cols})
        return pd.DataFrame(rows, columns=cols)

    return fn


def _mapping_pack(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("old_doc_id")
    return pd.DataFrame(
        {
            "gkey": [int(pdf["gkey"].iloc[0])],
            "salt": [int(pdf["salt"].iloc[0])],
            "old_segment": [int(pdf["old_segment"].iloc[0])],
            "old_docs": [pdf["old_doc_id"].to_numpy(np.int32).tobytes()],
            "new_docs": [pdf["new_doc_id"].to_numpy(np.int64).tobytes()],
        }
    )


def merge_segments(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: IndexConfig | None = None,
    groups: list[list[int]] | None = None,
) -> dict[int, int]:
    """Merge segment groups into single segments. Default grouping: all
    current segments in chunks of ``cfg.merge_fanin`` (call repeatedly for
    a hierarchical merge down to one segment). Returns {gkey: new_segment_id}.
    """
    cfg = cfg or IndexConfig()
    sd_ent = cat.read_manifest()["tables"]["segdata"]
    stats_rows = segment_stats(cat)
    seg_ids = sorted(int(r["segment_id"]) for r in stats_rows)
    ndocs_of = {int(r["segment_id"]): int(r["n_docs"]) for r in stats_rows}
    if groups is None:
        groups = [
            seg_ids[i : i + cfg.merge_fanin] for i in range(0, len(seg_ids), cfg.merge_fanin)
        ]
    groups = [g for g in groups if len(g) >= 1]
    if not groups:
        return {}
    gkey_of = {int(s): gi for gi, g in enumerate(groups) for s in g}
    gen = int(sd_ent.get("merge_gen", 0)) + 1
    if len(groups) >= (1 << 16):
        raise ValueError("too many merge groups in one pass")
    newseg = {gi: MERGE_BASE + (gen << 16) + gi for gi in range(len(groups))}
    merged_segs = sorted(gkey_of)
    salt = cfg.salt_factor

    gmap = local_frame(
        spark, "segment_id long, gkey long, salt int",
        list(gkey_of), list(gkey_of.values()), [int(s) % salt for s in gkey_of],
    )

    # --- new doc order: live docs of merged segments, ext_id asc per group.
    # Dense id assignment via grouped_dense_rank — a forceMerge(1) makes
    # gkey a single value, and a plain Window.partitionBy(gkey) would pull
    # the ENTIRE corpus's doc_map through one task; the range-partitioned
    # offset scheme keeps it fully parallel (M6 sorted merge at scale).
    dm = cat.read(spark, "doc_map")
    tomb = cat.read(spark, "tombstones") if cat.exists("tombstones") else None
    live = dm.join(F.broadcast(gmap), "segment_id")
    if tomb is not None:
        live = live.join(tomb, "ext_id", "left_anti")
    rank_base = live.select(
        "gkey",
        "salt",
        F.col("segment_id").alias("old_segment"),
        F.col("doc_id").alias("old_doc_id"),
        "ext_id",
        "sha256",
        "dl",
    )
    ranked, unpersist_rank = grouped_dense_rank(
        rank_base, ["gkey"], ["ext_id"], "new_doc_id"
    )
    ndm = ranked.cache()

    mapping = ndm.groupBy("gkey", "old_segment").applyInPandas(_mapping_pack, MAPPING_SCHEMA)

    # --- stage 1: salted partial merge (cogroup postings with mapping blobs)
    postings = cat.read(spark, "postings")
    p_merged = postings.join(F.broadcast(gmap), "segment_id")
    partials = (
        p_merged.groupby("gkey", "salt")
        .cogroup(mapping.groupby("gkey", "salt"))
        .applyInPandas(_stage1_fn(salt), PARTIAL_SCHEMA)
    )

    # --- stage 2: final per-term merge + re-blocking. Grouped by
    # (gkey, term_bucket), NOT gkey alone — stage 2 only needs same-term
    # runs together (block re-numbering is per-term), and a bare gkey group
    # would funnel ALL terms of a merged segment into one pandas task,
    # undoing stage 1's salting.
    # materialized ONCE: the commit union consumes new_postings twice
    # (the 'post' rows AND the per-term dictionary aggregate) — without
    # the checkpoint, ReuseExchange dedupes only the shuffle feeding
    # stage 2, so the stage-2 pandas k-way merge itself would run twice
    # (measured ~2-3s of the merge commit at sf1.0; guide §2.4)
    new_postings = (
        partials.groupby("gkey", "term_bucket")
        .applyInPandas(_stage2_fn(newseg, cfg.block_size), POSTINGS_SCHEMA)
        .localCheckpoint(eager=True)
    )

    # --- commit: ONE tagged segdata append holding ALL of the merged
    # segments' kind-tagged rows, with the merged-away segment ids dropped
    # LOGICALLY in the same manifest write. Merge cost is proportional to
    # the merged segments only — untouched segments are never rewritten
    # (the Lucene segment-file / Iceberg delete-manifest model); a later
    # rewrite_segdata() compaction reclaims the dropped bytes.
    newseg_df = local_frame(spark, "gkey long, segment_id long", list(newseg), list(newseg.values()))
    new_docmap = (
        ndm.join(F.broadcast(newseg_df), "gkey")
        .select("segment_id", F.col("new_doc_id").alias("doc_id"), "ext_id", "sha256", "dl")
    )
    new_norms = new_docmap.groupBy("segment_id").applyInPandas(build_norms_pdf, NORMS_SCHEMA)
    new_terms = new_postings.groupBy("segment_id", "term").agg(
        F.sum("n").cast("int").alias("df"), F.sum("sum_tf").alias("cf")
    )
    new_stats = new_docmap.groupBy("segment_id").agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("n_tokens")
    )
    seg_rows = (
        to_segdata(new_postings, "post", {c: c for c in (
            "segment_id", "term", "term_bucket", "block_id", "first_doc",
            "last_doc", "n", "max_tf", "sum_tf", "doc_deltas", "tfs")})
        .unionByName(to_segdata(new_docmap, "doc", {
            "segment_id": "segment_id", "doc_id": "doc_id", "ext_id": "ext_id",
            "sha256": "sha256", "dl": "dl"}))
        .unionByName(to_segdata(new_norms, "norms", {
            "segment_id": "segment_id", "n": "n_docs",
            "doc_deltas": "dls", "tfs": "ext_ids"}))
        .unionByName(to_segdata(new_terms, "term", {
            "segment_id": "segment_id", "term": "term", "n": "df", "sum_tf": "cf"}))
        .unionByName(to_segdata(new_stats, "stats", {
            "segment_id": "segment_id", "n": "n_docs", "sum_tf": "n_tokens"}))
    ).sortWithinPartitions("kind", "term_bucket", "term", "segment_id", "block_id", "doc_id")
    prev_dropped = set(sd_ent.get("dropped_segments", []))
    dropped = sorted(prev_dropped | {int(s) for s in merged_segs})
    # cumulative doc count behind the logical drops — the auto-compaction
    # trigger statistic, committed atomically with the drop list
    dropped_docs = int(sd_ent.get("dropped_docs", 0)) + sum(
        ndocs_of[int(s)] for s in merged_segs
    )
    cat.append(
        seg_rows,
        "segdata",
        tag=f"merge_gen_{gen}",
        extra_entry={
            "dropped_segments": dropped,
            "dropped_docs": dropped_docs,
            "merge_gen": gen,
        },
    )
    cat.define_views(SEGDATA_VIEWS, "segdata")
    new_postings.unpersist()

    # tombstones referencing physically-dropped docs are cleared (M5);
    # the row count rides the manifest so queries skip the isEmpty job
    if tomb is not None:
        dm2 = cat.read(spark, "doc_map")
        remaining = tomb.join(dm2, "ext_id", "left_semi").cache()
        n_tomb = remaining.count()
        cat.write(remaining, "tombstones", lineage={"n": n_tomb})
        remaining.unpersist()

    # auto-compaction: once the logically-dropped rows dominate the physical
    # table, every subsequent read scans mostly dead data (the q_after_merge
    # cliff) — rewrite to one compact snapshot now, exactly like Lucene
    # deleting unreferenced segment files / Iceberg rewrite_data_files.
    # Runs BEFORE the terms_global refresh so the dictionary stays the last
    # table write (its freshness gate compares committed_at).
    total_live = sum(ndocs_of.values())  # ≈ post-merge live docs
    if dropped_docs > cfg.compact_dropped_fraction * (dropped_docs + total_live):
        rewrite_segdata(spark, cat)

    # refresh the global dictionary LAST so its freshness check holds
    cat.write(
        cat.read(spark, "terms")
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        "terms_global",
        sort_by=["term"],
    )

    lineage = {str(newseg[g]): {"merged_from": [int(s) for s in grp]} for g, grp in enumerate(groups)}
    cat.mark_stage(f"merge_{len(seg_ids)}to{len(groups)}", lineage=lineage)

    # refresh the manifest corpus-stats cache at the merge commit, so the
    # next query reads N and avgdl with no stats job
    srows = segment_stats(cat)
    n_total = sum(int(r["n_docs"]) for r in srows)
    cat.mark_stage(
        "finalize",
        lineage={
            str(r["segment_id"]): {
                "n_docs": int(r["n_docs"]), "n_tokens": int(r["n_tokens"])
            }
            for r in srows
        },
        corpus_stats={
            "n_docs": n_total,
            "n_tokens": sum(int(r["n_tokens"]) for r in srows),
        },
    )

    ndm.unpersist()
    unpersist_rank()
    return newseg


def rewrite_segdata(spark: SparkSession, cat: IndexCatalog) -> None:
    """Compaction: materialize the current logical segdata state (appends
    folded in, dropped segments physically removed) into ONE fresh
    snapshot — reclaims merged-away bytes and resets the drop list, like
    Iceberg's rewrite_data_files or Lucene's eventual file deletion."""
    gen = int(
        cat.read_manifest()["tables"].get("segdata", {}).get("merge_gen", 0)
    )
    current = cat.read(spark, "segdata")
    cat.write(
        current,
        "segdata",
        sort_by=SEGDATA_SORT,
        # keep the merge generation monotone: a post-compaction merge must
        # never mint an id that a still-live earlier-generation segment holds
        extra_entry={"merge_gen": gen},
    )
    cat.define_views(SEGDATA_VIEWS, "segdata")


def tier_groups(
    sizes: list[tuple[int, int]],
    fanin: int,
    cap: int,
    size_ratio_bound: float = 10.0,
    deleted_frac: dict[int, float] | None = None,
    deletes_pct_allowed: float = 0.2,
) -> list[list[int]]:
    """PURE tiered-merge group selection (the decision core of
    :func:`pick_merge_groups`, factored out so its invariants are
    hypothesis-testable without Spark). ``sizes`` = (live_docs,
    segment_id) pairs. Lucene ``TieredMergePolicy`` invariants pinned by
    tests/test_merge_policy.py:

    - a segment joins at most ONE group per round (never merged twice);
    - every group has 2..``fanin`` members — except DELETE-RECLAIM
      singletons: a delete-pressured segment that finds no size-comparable
      partner is rewritten ALONE (TieredMergePolicy performs exactly this
      singleton merge to reclaim dead docs; without it a solitary
      mostly-dead settled segment would keep its garbage forever);
    - groups are size-comparable: within a group, live size spans at most
      ``size_ratio_bound``× the group's smallest member (merging a tiny
      flush segment into a near-cap one wastes a full rewrite of the big
      side — Lucene scores such merges out via skew);
    - segments at/above ``cap`` are settled and never selected — UNLESS
      their deleted fraction exceeds ``deletes_pct_allowed``
      (deletesPctAllowed pressure: reclaiming dead docs outranks size);
    - deterministic: sorted inputs, stable tie-breaks by segment id.
    """
    deleted_frac = deleted_frac or {}
    eligible = sorted(
        (max(1, int(n)), int(s))
        for n, s in sizes
        if n < cap or deleted_frac.get(int(s), 0.0) > deletes_pct_allowed
    )
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_min = 0
    for n, s in eligible:
        if cur and (len(cur) >= fanin or n > size_ratio_bound * cur_min):
            if len(cur) >= 2:
                groups.append(cur)
            cur, cur_min = [], 0
        if not cur:
            cur_min = n
        cur.append(s)
    if len(cur) >= 2:
        groups.append(cur)
    # delete-reclaim singletons: pressured segments left ungrouped are
    # rewritten alone (their tombstoned rows drop and the pressure clears,
    # so this cannot churn — next round their deleted fraction is 0)
    grouped = {s for g in groups for s in g}
    for _n, s in eligible:
        if s not in grouped and deleted_frac.get(s, 0.0) > deletes_pct_allowed:
            groups.append([s])
    return groups


def pick_merge_groups(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: IndexConfig | None = None,
    max_segment_docs: int | None = None,
    size_ratio_bound: float = 10.0,
    deletes_pct_allowed: float = 0.2,
) -> list[list[int]]:
    """Tiered merge policy (the host Lucene ``TieredMergePolicy`` the
    reference's tests run under, ``TestMerge.java:252-254``): group the
    SMALLEST size-comparable segments first, ``merge_fanin`` per group,
    skipping segments already at/above ``max_segment_docs`` (default
    ``cfg.rows_per_segment``) unless their deleted fraction exceeds
    ``deletes_pct_allowed`` (delete pressure reclaims dead docs from
    settled segments), and never forming single-segment or
    size-skewed (> ``size_ratio_bound``×) groups. Background compaction
    then merges many small flush/streaming segments without ever touching
    the big settled ones — pair with :func:`merge_segments`::

        groups = pick_merge_groups(spark, cat, cfg)
        if groups:
            merge_segments(spark, cat, cfg, groups=groups)

    Inputs are segment-level METADATA only (one segment_stats read +
    one per-segment tombstone count aggregate — ∝ segment count, never
    doc blobs); the decision core is :func:`tier_groups`.
    """
    cfg = cfg or IndexConfig()
    cap = max_segment_docs or cfg.rows_per_segment
    rows = [
        (int(r["n_docs"]), int(r["segment_id"]))
        for r in segment_stats(cat)
    ]
    dfrac: dict[int, float] = {}
    if cat.exists("tombstones") and cat.table_lineage("tombstones").get("n"):
        n_of = {s: n for n, s in rows}
        dead = (
            cat.read(spark, "doc_map")
            .join(cat.read(spark, "tombstones"), "ext_id", "left_semi")
            .groupBy("segment_id")
            .agg(F.count("*").alias("n_dead"))
            .collect()
        )
        for r in dead:
            s = int(r["segment_id"])
            dfrac[s] = float(r["n_dead"]) / max(1, n_of.get(s, 1))
        # delete pressure operates on LIVE sizes (a 90%-dead big segment
        # is really a small one)
        rows = [
            (max(0, n - int(round(dfrac.get(s, 0.0) * n))), s) for n, s in rows
        ]
    return tier_groups(
        rows, cfg.merge_fanin, cap, size_ratio_bound, dfrac, deletes_pct_allowed
    )


def force_merge(spark: SparkSession, cat: IndexCatalog, cfg: IndexConfig | None = None) -> None:
    """``forceMerge(1)`` analogue: hierarchical merge until one segment,
    then a physical compaction — forceMerge IS Lucene's full-optimize, so
    the dropped bytes accumulated by the incremental merges are reclaimed
    here (partial/tiered merges stay append-only and compact lazily)."""
    cfg = cfg or IndexConfig()
    merged_any = False
    while True:
        n = len(segment_stats(cat))
        if n <= 1:
            break
        merge_segments(spark, cat, cfg)
        merged_any = True
    if merged_any and cat.read_manifest()["tables"].get("segdata", {}).get(
        "dropped_segments"
    ):
        rewrite_segdata(spark, cat)
