"""Deletes / tombstones (H7, SURVEY.md §2.5; reference evidence:
``writer.deleteDocuments(Term)`` in ``TestMerge.java:700`` and
``TestCuVSDeletedDocuments.java:83``).

Lucene model: deletes are logical (live-docs bitset) until a merge
physically drops them (M5). Spark-first equivalent: a ``tombstones(ext_id)``
table; queries apply it as a pre-filter mask inside the scorer
(never post-filter — S10 semantics); merges drop tombstoned docs and
clear their tombstones.

A delete of at most ``segments.DRIVER_FLUSH_MAX_DOCS`` ids on an index
whose segdata fits ``segments.DRIVER_FLUSH_MAX_INDEX_BYTES`` runs in the
driver: the id frame is read once (``frames.small_arrow``), unioned with
the committed tombstones read by pyarrow, written as one file by
``IndexCatalog.write``, and the live count is a set difference over
doc_map's ``ext_id``s — no other Spark job. A larger (or unbounded) id
frame, or a larger index, runs the Spark union, write and anti-join.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.frames import arrow_schema, small_arrow
from cuvs_lucene_spark.sources.catalog import IndexCatalog


def delete_docs(spark: SparkSession, cat: IndexCatalog, ext_ids: DataFrame) -> int:
    """Tombstone the given docs (DataFrame with an ``ext_id`` column).
    Idempotent: re-deleting is a no-op. Returns live doc count after."""
    from cuvs_lucene_spark.operators.segments import DRIVER_FLUSH_MAX_DOCS, driver_index

    # (a local_frame of ext_id long is read with no JVM call: not projected)
    ids = (ext_ids if ext_ids.dtypes == [("ext_id", "bigint")]
           else ext_ids.select(F.col("ext_id").cast("long")))
    small = small_arrow(ids, DRIVER_FLUSH_MAX_DOCS) if driver_index(cat) else None
    if small is not None:
        return _delete_in_driver(cat, small.column(0))
    new = ids.distinct()
    if cat.exists("tombstones"):
        new = cat.read(spark, "tombstones").union(new).distinct()
    new = new.cache()
    n_tomb = new.count()
    # the tombstone count rides the manifest lineage so every query can
    # answer "are there deletes?" without an isEmpty Spark job
    cat.write(new, "tombstones", lineage={"n": n_tomb})
    new.unpersist()
    dm = cat.read(spark, "doc_map")
    return dm.join(cat.read(spark, "tombstones"), "ext_id", "left_anti").count()


def _delete_in_driver(cat: IndexCatalog, ids: pa.ChunkedArray) -> int:
    """:func:`delete_docs` on ids in hand: the same distinct union (a null
    id kept once, as ``distinct`` keeps it), the same lineage, and the
    live count of ``left_anti`` (a null ext_id matches nothing)."""
    if cat.exists("tombstones"):
        ids = pa.chunked_array(
            cat.read_arrow("tombstones", ["ext_id"]).column(0).chunks + ids.chunks, pa.int64()
        )
    tomb = pc.unique(ids)
    cat.write(pa.table([tomb], schema=arrow_schema("ext_id long")), "tombstones",
              lineage={"n": len(tomb)})
    dm = cat.read_arrow("segdata", ["ext_id"], where=pc.field("kind") == "doc").column(0)
    return len(dm) - (pc.sum(pc.is_in(dm, value_set=tomb, skip_nulls=True)).as_py() or 0)


def delete_by_term(spark: SparkSession, cat: IndexCatalog, term: str, cfg=None) -> int:
    """``deleteDocuments(Term)`` analogue: tombstone every doc containing term."""
    from cuvs_lucene_spark.operators.bm25 import term_docs

    return delete_docs(spark, cat, term_docs(spark, cat, term, cfg))


def live_doc_map(spark: SparkSession, cat: IndexCatalog) -> DataFrame:
    dm = cat.read(spark, "doc_map")
    if cat.exists("tombstones"):
        dm = dm.join(cat.read(spark, "tombstones"), "ext_id", "left_anti")
    return dm
