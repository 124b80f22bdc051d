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

Exactly-once: foreachBatch is AT-LEAST-once, so every epoch append is
tagged ``epoch_N`` and :meth:`IndexCatalog.append` replaces (not
duplicates) the increment on redelivery; a fully committed epoch is
skipped via its manifest stage checkpoint.

A text epoch flushes on the same two tiers as ``segments.build_index``:
in the driver when its frame holds at most
``segments.DRIVER_FLUSH_MAX_DOCS`` rows (one read of the frame, then
``segments.flush_segdata`` and, when the index has a positions sidecar,
``positions.build_positions_pdf`` per uncovered segment, appended by
pyarrow through ``IndexCatalog.append_arrow`` — no other Spark job), else
as Spark ``applyInPandas`` jobs. The driver epoch's coverage check reads
only the sidecar rows of the epoch's own segment range, so its work does
not grow with the index and, unlike a delete or a positions refresh, it
is not gated by ``segments.DRIVER_FLUSH_MAX_INDEX_BYTES``. Vector epochs
run on Spark.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.functions.tokenize import doclen_expr
from cuvs_lucene_spark.operators.segments import (
    SEGDATA_ARROW,
    SEGDATA_SCHEMA,
    SEGDATA_SORT,
    SEGDATA_VIEWS,
    build_segment_pdf,
    flush_segdata,
    index_term_buckets,
    range_segments,
    small_docs,
)
from cuvs_lucene_spark.sources.catalog import IndexCatalog

EPOCH_STRIDE = 1 << 20
STREAM_BASE = 1 << 41


def _epoch_base(epoch: int) -> int:
    return STREAM_BASE + (epoch + 1) * EPOCH_STRIDE


def _with_epoch_segment(df: DataFrame, epoch: int, rows_per_segment: int) -> DataFrame:
    """``df`` (with an ``ext_id``) plus its epoch-namespaced ``segment_id``
    (see the module docstring) — the text and vector ingest share it."""
    seg = (F.col("ext_id") / F.lit(rows_per_segment)).cast("long")
    return df.withColumn(
        "segment_id", F.lit(_epoch_base(epoch)) + F.pmod(seg, F.lit(EPOCH_STRIDE))
    )


def _spark_epoch(
    spark: SparkSession, cat: IndexCatalog, base: DataFrame, cfg: IndexConfig, epoch: int
) -> None:
    """An epoch's flush on Spark: ``base`` (ext_id, content) → segdata (and
    positions) appends, tagged ``epoch_N``."""
    base = _with_epoch_segment(base, epoch, cfg.rows_per_segment)
    enriched = base.select(
        "segment_id",
        "ext_id",
        "content",
        F.sha2(F.col("content"), 256).alias("sha256"),
        doclen_expr("content").cast("int").alias("dl"),
    )
    segdata = enriched.groupBy("segment_id").applyInPandas(
        lambda pdf: build_segment_pdf(pdf, cfg), SEGDATA_SCHEMA
    ).sortWithinPartitions(*SEGDATA_SORT)
    cat.append(segdata, "segdata", tag=f"epoch_{epoch}")
    # positions sidecar maintenance: when the index opted into positions
    # (build_positions ran), every epoch appends its segments' position
    # rows too — same idempotent tag discipline, so phrase queries never
    # see a streamed segment the sidecar doesn't cover. A crash between
    # the two appends is healed by redelivery (tag replaces); a permanent
    # gap degrades to PositionsStaleError, never to wrong results.
    if cat.exists("positions"):
        from cuvs_lucene_spark.operators.positions import (
            POS_SCHEMA,
            build_positions_pdf,
        )

        # build only segments the sidecar does not cover yet: a crash
        # between the two appends followed by a manual refresh_positions
        # (untagged rows) must not be doubled by this epoch's redelivery —
        # coverage, not the tag, is the idempotency authority. And when
        # everything is already covered, do NOT re-append: an empty
        # tag-replace would wipe the earlier increment's rows.
        covered = cat.read(spark, "positions").select("segment_id").distinct()
        missing = (
            base.select("segment_id").distinct()
            .join(covered, "segment_id", "left_anti")
        )
        if missing.limit(1).count() > 0:
            pos = (
                base.select("segment_id", "ext_id", F.col("content").alias("text"))
                .join(F.broadcast(missing), "segment_id", "left_semi")
                .groupBy("segment_id")
                .applyInPandas(lambda p: build_positions_pdf(p), POS_SCHEMA)
            )
            cat.append(pos, "positions", tag=f"epoch_{epoch}")


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
    the commit mode (tagged append vs overwrite) differ. Idempotent per
    epoch: a redelivered epoch replaces its own increment (see module
    docstring), so a crash between manifest commit and streaming
    checkpoint commit cannot double postings/norms rows.
    """
    if cat.stage_done(f"epoch_{epoch}"):
        return  # epoch fully committed earlier — redelivery is a no-op
    # postings are bucketed as the index's existing ones (query pruning)
    cfg = dataclasses.replace(cfg, term_buckets=index_term_buckets(cat, cfg))
    base = docs.select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(content_col).cast("string").alias("content"),
    )
    if not cat.exists("segdata"):
        # empty base snapshot + views, so every epoch (including the first)
        # lands as a tagged, replace-on-redelivery increment
        cat.write_arrow(SEGDATA_ARROW.empty_table(), "segdata")
        cat.define_views(SEGDATA_VIEWS, "segdata")
    small = small_docs(base)
    if small is None:
        _spark_epoch(spark, cat, base, cfg, epoch)
    else:
        small["segment_id"] = _epoch_base(epoch) + np.mod(
            range_segments(small["ext_id"].to_numpy(np.int64), cfg.rows_per_segment),
            EPOCH_STRIDE,
        )
        tag = f"epoch_{epoch}"
        cat.append_arrow(flush_segdata(small, cfg), "segdata", sort_by=SEGDATA_SORT, tag=tag)
        if len(small) and cat.exists("positions"):
            # as in _spark_epoch: only segments the sidecar does not cover
            # yet, and no append when every one is covered. Only the
            # epoch's own segment range is read: row-group statistics
            # prune the rest of the sidecar, so the read does not grow
            # with the index
            from cuvs_lucene_spark.operators.positions import positions_arrow

            seg = pc.field("segment_id")
            span = (seg >= int(small["segment_id"].min())) & (seg <= int(small["segment_id"].max()))
            covered = cat.read_arrow("positions", ["segment_id"], where=span).column(0).to_numpy()
            todo = small[~small["segment_id"].isin(covered)]
            if len(todo):
                cat.append_arrow(positions_arrow(todo.rename(columns={"content": "text"})),
                                 "positions", tag=tag)
    cat.mark_stage(f"epoch_{epoch}", n_epoch=epoch)


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
    ``merge_ann`` later compacts, exactly like text segments."""
    from cuvs_lucene_spark.operators.ann import (
        ANN_FORMAT_VERSION,
        FLAT_SCHEMA,
        FORMATS,
        IDS_SCHEMA,
        _ann_ids,
        _append_formats,
        _check_index_metric,
        _index_metric,
        _mark_bf_fallback,
        build_flat_pdf,
        validate_vectors,
    )

    if cat.stage_done(f"ann_epoch_{epoch}"):
        return
    validate_vectors(vectors, vector_col, id_col, cfg.ann)
    m = cat.read_manifest()
    if "ann_metric" not in m.get("config", {}):
        _check_index_metric(cfg.ann.metric)  # same guard as build_ann
        cat.set_config(
            {
                **m.get("config", {}),
                "ann_metric": cfg.ann.metric,
                "ann_format": ANN_FORMAT_VERSION,
                "rows_per_segment": cfg.rows_per_segment,
            }
        )
    base = _with_epoch_segment(
        vectors.select(
            F.col(id_col).cast("long").alias("ext_id"),
            F.col(vector_col).alias("vector"),
        ),
        epoch, cfg.rows_per_segment,
    )

    if cat.exists("ann_flat") and not cat.exists("ann_ids"):
        # pre-v3 catalog: materialize the FULL map from the existing flat
        # blobs before this epoch appends — seeding an empty table here
        # would disable the self-heal and silently prune the pre-existing
        # segments from every future DataFrame-filtered query
        _ann_ids(spark, cat)
    seeds = [("ann_flat", FLAT_SCHEMA), ("ann_ids", IDS_SCHEMA)] + [
        (f.table, f.schema) for f in FORMATS.values() if f.default
    ]
    for table, schema in seeds:
        if not cat.exists(table):
            cat.write(spark.createDataFrame([], schema), table)
    tag = f"ann_epoch_{epoch}"
    cat.append(
        base.groupBy("segment_id").applyInPandas(build_flat_pdf, FLAT_SCHEMA),
        "ann_flat", tag=tag,
    )
    # the DataFrame-filter tier's row-level map follows every flat append —
    # a stale ann_ids would silently prune the new segments from filtered
    # queries (its blob join is an inner join)
    cat.append(base.select("segment_id", "ext_id"), "ann_ids", tag=tag)
    # every maintained format gets this epoch's segments, built from the
    # JUST-COMMITTED rows of the epoch's range (per-segment independence:
    # earlier segments are never rebuilt, and IVF-PQ re-encodes the
    # committed IVF lists instead of re-running their k-means). Formats
    # follow the CATALOG's metric (set at first epoch / batch build), never
    # the per-call cfg — similarity is index state
    seg_base = _epoch_base(epoch)
    in_epoch = (F.col("segment_id") >= seg_base) & (
        F.col("segment_id") < seg_base + EPOCH_STRIDE
    )
    _append_formats(
        cat, cfg, _index_metric(cat),
        lambda t: cat.read(spark, t).filter(in_epoch), tag,
    )
    _mark_bf_fallback(spark, cat)
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
