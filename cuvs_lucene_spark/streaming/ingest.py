"""Incremental / streaming index ingest.

The reference has no streaming — it is batch with incremental segments:
every Lucene commit flushes a NEW immutable segment
(``TestCuVSVectorsFormat.java:50-64`` asserts 2 leaves after 2 commits;
SURVEY.md §1.1). That model maps exactly onto Structured Streaming's
micro-batches: *micro-batch epoch ≙ Lucene commit*. Each epoch builds its
own segments (same per-segment kernel as the batch path) and appends them
to the catalog atomically via ``foreachBatch`` — queries see a consistent
snapshot per manifest commit, and the hierarchical merge (operators.merge)
later compacts the accumulated small segments, exactly like Lucene's
background merges.

Epoch segments are namespaced ``segment_id = STREAM_BASE +
(epoch + 1) * EPOCH_STRIDE + local`` — a range disjoint by construction
from both the batch range segmenter (ids ≪ 2^40 for any sane
ext_id/rows_per_segment) and the zero-shuffle partition segmenter
(``segments.PARTITION_BASE`` = 2^40 ≤ id < 2^41), so mixing a batch-built
index with streaming appends can never alias two different segments onto
one id (which would silently merge their per-segment blobs).

Exactly-once: foreachBatch is AT-LEAST-once. Every epoch is one catalog
transaction — its appends to every table and its stage checkpoint become
visible in one manifest swap — so a crash leaves none of it visible and
the redelivered epoch runs whole, while a fully committed epoch is skipped
via its stage checkpoint. The appends are also tagged ``epoch_N``, and
:meth:`IndexCatalog.append` replaces (not duplicates) an increment of the
same tag.

An epoch runs the batch build's kernels through ``frames.run_kernel``
(``segments.segment_rows``, and ``positions.build_positions_pdf`` when the
index has a positions sidecar; ``ann.build_flat_pdf`` and every maintained
format's kernel for a vector epoch); the gates ``segments.small_docs`` and
``ann.small_vectors`` choose their source's transport. A frame of at most
``segments.DRIVER_FLUSH_MAX_DOCS`` rows (``ann.ANN_DRIVER_MAX_VALUES``
vector values) is read once and flushed in the driver, its rows appended
by pyarrow with no other Spark job; a larger one runs on Spark. The driver
text epoch reads nothing of the index, so its work does not grow with it
and, unlike a delete or a positions refresh, it is not gated by
``segments.DRIVER_FLUSH_MAX_INDEX_BYTES``.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.frames import arrow_schema
from cuvs_lucene_spark.operators.segments import (
    SEGDATA_ARROW,
    SEGDATA_SORT,
    SEGDATA_VIEWS,
    index_term_buckets,
    range_segments,
    segment_rows,
    small_docs,
    text_config,
)
from cuvs_lucene_spark.sources.catalog import IndexCatalog, transactional

EPOCH_STRIDE = 1 << 20
STREAM_BASE = 1 << 41


def _epoch_base(epoch: int) -> int:
    return STREAM_BASE + (epoch + 1) * EPOCH_STRIDE


def _with_epoch_segment(src, epoch: int, rows_per_segment: int):
    """``src`` (with an ``ext_id``; a pandas frame or a DataFrame) plus its
    epoch-namespaced ``segment_id`` (see the module docstring) — the text
    and vector ingest share it."""
    if isinstance(src, DataFrame):
        seg = (F.col("ext_id") / F.lit(rows_per_segment)).cast("long")
        return src.withColumn(
            "segment_id", F.lit(_epoch_base(epoch)) + F.pmod(seg, F.lit(EPOCH_STRIDE))
        )
    seg = range_segments(src["ext_id"].to_numpy(np.int64), rows_per_segment)
    return src.assign(segment_id=_epoch_base(epoch) + np.mod(seg, EPOCH_STRIDE))


@transactional
def incremental_add(
    spark: SparkSession,
    cat: IndexCatalog,
    docs: DataFrame,
    cfg: IndexConfig,
    epoch: int,
    content_col: str = "content",
    id_col: str = "ext_id",
) -> None:
    """Build one epoch's segments from a (micro-)batch and append them.

    Same kernels as the batch build (B1-B8); only the segment namespace and
    the commit mode (tagged append vs overwrite) differ. One transaction,
    idempotent per epoch (see module docstring): a crash between the
    manifest commit and the streaming checkpoint commit cannot double
    postings/norms rows.
    """
    if cat.stage_done(f"epoch_{epoch}"):
        return  # epoch fully committed earlier — redelivery is a no-op
    if not cat.exists("segdata"):
        # a fresh root: the config build_index records, an empty base
        # snapshot and the views, so every epoch (including the first)
        # lands as a tagged, replace-on-redelivery increment
        cat.set_config(text_config(cfg))
        cat.write(SEGDATA_ARROW.empty_table(), "segdata")
        cat.define_views(SEGDATA_VIEWS, "segdata")
    # postings are bucketed as the index's existing ones (query pruning)
    cfg = dataclasses.replace(cfg, term_buckets=index_term_buckets(cat))
    base = docs.select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(content_col).cast("string").alias("content"),
    )
    small = small_docs(base)
    src = _with_epoch_segment(base if small is None else small, epoch, cfg.rows_per_segment)
    tag = f"epoch_{epoch}"
    cat.append(segment_rows(src, cfg), "segdata", sort_by=SEGDATA_SORT, tag=tag)
    # positions sidecar maintenance: when the index opted into positions
    # (build_positions ran), every epoch appends its segments' position
    # rows too, in the epoch's transaction — so phrase queries never see a
    # streamed segment the sidecar doesn't cover
    if cat.exists("positions"):
        from cuvs_lucene_spark.operators.positions import positions_rows

        cat.append(positions_rows(src), "positions", tag=tag)
    cat.mark_stage(f"epoch_{epoch}", n_epoch=epoch)


@transactional
def incremental_add_vectors(
    spark: SparkSession,
    cat: IndexCatalog,
    vectors: DataFrame,
    cfg: IndexConfig,
    epoch: int,
    id_col: str = "ext_id",
    vector_col: str = "vector",
) -> None:
    """Streaming ANN ingest: micro-batch epoch ≙ codec flush. The
    reference's codec builds a fresh per-segment vector index at EVERY
    Lucene commit (SURVEY §3.1); here each epoch's vectors become new ann
    segments — flat rows plus every maintained format's rows
    (``ann.FORMATS``) — appended to the sidecar tables
    with the same idempotent epoch tags as the text path (redelivery
    replaces, committed epochs skip). Per-segment structures are
    independent, so appended segments need no rebuild of earlier ones;
    ``merge_ann`` later compacts, exactly like text segments. One
    transaction: flat, ids, every format, the B2 bookkeeping and the
    epoch's stage commit together. A small epoch runs in the driver (see
    the module docstring), with no Spark job beyond the read of
    ``vectors``."""
    from cuvs_lucene_spark.operators.ann import (
        FLAT_SCHEMA,
        FORMATS,
        IDS_SCHEMA,
        _append_formats,
        _check_index_metric,
        _index_metric,
        _mark_bf_fallback,
        ann_config,
        flat_rows,
        small_vectors,
        validate_vectors,
    )

    if cat.stage_done(f"ann_epoch_{epoch}"):
        return
    small = small_vectors(vectors, id_col, vector_col, cfg.ann)
    if small is None:
        validate_vectors(vectors, vector_col, id_col, cfg.ann)
    config = cat.read_manifest()["config"]
    if "ann_format" not in config:
        # a fresh root: record the config build_ann records
        _check_index_metric(cfg.ann.metric)  # same guard as build_ann
        cat.set_config({**config, **ann_config(cfg.ann, cfg.rows_per_segment)})
    seeds = [("ann_flat", FLAT_SCHEMA), ("ann_ids", IDS_SCHEMA)] + [
        (f.table, f.schema) for f in FORMATS.values() if f.default
    ]
    for table, schema in seeds:
        if not cat.exists(table):
            cat.write(arrow_schema(schema).empty_table(), table)
    tag = f"ann_epoch_{epoch}"
    seg_base = _epoch_base(epoch)
    if small is None:
        src = vectors.select(
            F.col(id_col).cast("long").alias("ext_id"),
            F.col(vector_col).alias("vector"),
        )
        in_epoch = (F.col("segment_id") >= seg_base) & (
            F.col("segment_id") < seg_base + EPOCH_STRIDE
        )
        staged = lambda t: cat.read(spark, t).filter(in_epoch)
    else:
        src = small
        in_epoch = (pc.field("segment_id") >= seg_base) & (
            pc.field("segment_id") < seg_base + EPOCH_STRIDE
        )
        staged = lambda t: cat.read_arrow(t, where=in_epoch).to_pandas()
    flat, ids = flat_rows(_with_epoch_segment(src, epoch, cfg.rows_per_segment))
    cat.append(flat, "ann_flat", tag=tag)
    # the DataFrame-filter tier's row-level map follows every flat append
    # (its blob join is an inner join)
    cat.append(ids, "ann_ids", tag=tag)
    # every maintained format gets this epoch's segments, built from the
    # JUST-STAGED rows of the epoch's range (per-segment independence:
    # earlier segments are never rebuilt, and IVF-PQ re-encodes the
    # committed IVF lists instead of re-running their k-means). Formats
    # follow the CATALOG's metric (set at first epoch / batch build), never
    # the per-call cfg — similarity is index state
    _append_formats(cat, cfg, _index_metric(cat), staged, tag)
    _mark_bf_fallback(cat)
    cat.mark_stage(f"ann_epoch_{epoch}", n_epoch=epoch)


def stream_build(
    spark: SparkSession,
    stream: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
    content_col: str = "content",
    id_col: str = "ext_id",
    checkpoint_dir: str | None = None,
):
    """Attach the incremental ingest to a streaming DataFrame.

    Returns the StreamingQuery; call ``processAllAvailable()`` to drain in
    tests. Exactly-once per epoch: foreachBatch (at-least-once) + the
    catalog's idempotent tagged append — a redelivered epoch replaces its
    own increment or is skipped when already fully committed."""
    cfg = cfg or IndexConfig()
    cat = IndexCatalog(index_root)

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_add(spark, cat, batch_df, cfg, int(epoch_id), content_col, id_col)

    writer = stream.writeStream.foreachBatch(on_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start(), cat
