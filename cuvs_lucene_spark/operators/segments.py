"""Segmented inverted-index build (SURVEY.md §2.2 B1-B8, §2.5 H1-H3).

Spark restatement of the reference's flush path
(``CuVS2510GPUVectorsWriter.flush:279-289`` → ``writeFieldInternal:181-234``):
*input partition ≙ flush batch; executor task ≙ writer thread;
parquet snapshot commit ≙ .vemc/.vcag segment files*.

Tables emitted (all committed through :class:`IndexCatalog` snapshots):

- ``doc_map(segment_id, doc_id, ext_id, sha256, dl)`` — segment-local dense
  docID assignment (ord→doc mapping, reference ``ordToDoc``
  ``CuVS2510GPUVectorsReader.java:502,516``) + the per-row content sha256
  invariant required by BASELINE.json ``input_hint``.
- ``norms(segment_id, n_docs, dls, ext_ids)`` — packed per-segment doc
  lengths (uint32 LE) and external ids (int64 LE); the Lucene "norms"
  analogue the scorer reads instead of shuffling doc_map per query.
- ``postings(segment_id, term, term_bucket, block_id, first_doc, last_doc,
  n, max_tf, sum_tf, doc_deltas, tfs)`` — sorted doc ids → delta → varint
  blocks with per-block max-tf metadata (the compression recipe of
  ``AcceleratedHNSWUtils.writeGraph:239-289`` transplanted onto postings,
  B14/B15), partitioned by ``term_bucket`` for query-side pruning.
- ``terms(segment_id, term, df, cf)`` — sorted term dictionary (H3).
- ``segment_stats(segment_id, n_docs, n_tokens, avgdl)``.

One kernel, :func:`build_segment_pdf`, flushes every segment, through
``frames.run_kernel`` (:func:`segment_rows`); the gate only chooses its
source's transport. For at most ``DRIVER_FLUSH_MAX_DOCS`` input docs (the
measured crossover) with the ``range`` segmenter, the caller's frame is
read once into the driver (:func:`small_docs`) and the kernel runs there,
as Lucene's ``IndexWriter`` flushes each segment in process
(``CuVS2510GPUVectorsWriter.java:128-148``): the rows are written by
pyarrow, and ``terms_global``, the corpus stats and the lineage fold from
the table in hand, so a build runs no Spark job beyond that read.
Otherwise the kernel runs on Spark: one shuffle by segment, one parquet
write (the ``partition`` segmenter calls it per input partition instead).
Writes whose driver work grows with the index, not the input — a delete,
a positions build or refresh — take the driver only while the index's
segdata fits ``DRIVER_FLUSH_MAX_INDEX_BYTES`` (:func:`driver_index`).

DocID assignment rule (frozen; merge and query depend on it):
within a segment, docs sorted by ``ext_id`` ascending get ``doc_id`` 0..n-1.
This is also the index-sort hook (H8/B6): sorting by a key column first
simply permutes ext_id order upstream.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.frames import arrow_schema, run_kernel, small_arrow
from cuvs_lucene_spark.functions.tokenize import tokenize_py
from cuvs_lucene_spark.functions.varint import varint_encode
from cuvs_lucene_spark.sources.catalog import IndexCatalog, stats_version

POSTINGS_SCHEMA = (
    "segment_id long, term string, term_bucket int, block_id int, "
    "first_doc int, last_doc int, n int, max_tf int, sum_tf long, "
    "doc_deltas binary, tfs binary"
)

NORMS_SCHEMA = "segment_id long, n_docs int, dls binary, ext_ids binary"

# segment-id namespace base for the zero-shuffle partition segmenter:
# [2^40, 2^41) — disjoint from the range segmenter (≪ 2^40) and the
# streaming namespace (≥ 2^41, streaming.ingest.STREAM_BASE), so indexes
# built by different paths can share one catalog without id aliasing
PARTITION_BASE = 1 << 40

# unified one-pass segment flush: every per-segment artifact (postings,
# doc map, norms, term dictionary, stats) as kind-tagged rows of ONE table
# — the Spark analogue of a Lucene flush writing all segment files in one
# go. The logical tables are kind-filtered catalog views.
SEGDATA_SCHEMA = (
    "segment_id long, kind string, term string, term_bucket int, block_id int, "
    "first_doc int, last_doc int, n int, max_tf int, sum_tf long, "
    "doc_deltas binary, tfs binary, doc_id int, ext_id long, sha256 string, dl int"
)
SEGDATA_ARROW = arrow_schema(SEGDATA_SCHEMA)

# the write order: kind + term leading, so parquet row-group min/max stats
# prune the two query-side scans — postings lookups (kind='post',
# term_bucket/term IN ...) and the doc_map/norms/stats views each touch
# only their kind's row groups
SEGDATA_SORT = ["kind", "term_bucket", "term", "segment_id", "block_id", "doc_id"]

DRIVER_FLUSH_MAX_DOCS = 8_000  # builds, epochs, deletes and positions
                               # builds of at most this many input rows
                               # flush in the driver
# The driver flushes on one core, the Spark flush over the executors.
# Measured on fixtures.generate_documents_pdf docs (20-400 tokens each) on
# local[4], rows_per_segment = n/4 (four segments, so the Spark flush runs
# four-way), a cached input frame, medians of 3 warm runs, driver/Spark s,
# identical rows: build_index 5k 0.95/1.75, 8k 1.22/1.69, 10k 1.62/1.36,
# 12k 1.91/1.60, 15k 2.23/1.80, 20k 2.84/2.15, 50k 6.64/4.15, 100k
# 14.73/8.37; build_positions 5k 0.53/1.16, 8k 0.78/0.91, 10k 0.95/0.91,
# 20k 2.00/1.36, 100k 10.89/5.89. The crossover lies between 8k and 10k
# docs, so the bound is 8,000.

DRIVER_FLUSH_MAX_INDEX_BYTES = 350 << 20  # deletes and positions builds /
                                          # refreshes flush in the driver
                                          # only while segdata's committed
                                          # bytes fit this
# Those three read index-wide columns into the driver (a delete doc_map's
# ext_ids, a positions build or refresh doc_map's (segment_id, ext_id) and
# the sidecar's segment ids), so their driver work grows with the index,
# not with the input. Measured with 150-doc refreshes and 15-id deletes on
# fixtures.generate_documents_pdf indexes (rows_per_segment 25k, positions
# on) on local[4], medians of 3 warm runs, driver/Spark s: 100k docs
# (46.1 MB segdata, 66.1 MB positions) refresh 0.146/1.482, delete
# 0.093/0.580; 400k (168.3 / 262.1 MB) 0.160/1.437, 0.089/0.574; 1M
# (368.6 / 647.9 MB) 0.232/2.246, 0.110/0.498. At 1M the driver reads
# 16.1 MB of doc_map and 92.9 MB of sidecar segment ids (11.4M rows) in
# 10 + 13 ms. No crossover was found; the bound is the largest index
# measured, rounded down. An epoch reads only its own segment range of
# the sidecar (row-group statistics prune the rest), so it is not gated:
# a 150-doc epoch took 0.195 s at 100k and 0.247 s at 1M, against 0.899 /
# 0.981 s on Spark.

SEGDATA_VIEWS: dict[str, tuple[str, list[str]]] = {
    "postings": (
        "kind = 'post'",
        ["segment_id", "term", "term_bucket", "block_id", "first_doc",
         "last_doc", "n", "max_tf", "sum_tf", "doc_deltas", "tfs"],
    ),
    "doc_map": ("kind = 'doc'", ["segment_id", "doc_id", "ext_id", "sha256", "dl"]),
    "norms": (
        "kind = 'norms'",
        ["segment_id", "n AS n_docs", "doc_deltas AS dls", "tfs AS ext_ids"],
    ),
    "terms": ("kind = 'term'", ["segment_id", "term", "n AS df", "sum_tf AS cf"]),
    "segment_stats": (
        "kind = 'stats'",
        ["segment_id", "CAST(n AS BIGINT) AS n_docs", "sum_tf AS n_tokens",
         "sum_tf / CAST(n AS DOUBLE) AS avgdl"],
    ),
}


_SEGDATA_COLS: list[tuple[str, str]] = [
    ("segment_id", "long"), ("kind", "string"), ("term", "string"),
    ("term_bucket", "int"), ("block_id", "int"), ("first_doc", "int"),
    ("last_doc", "int"), ("n", "int"), ("max_tf", "int"), ("sum_tf", "long"),
    ("doc_deltas", "binary"), ("tfs", "binary"), ("doc_id", "int"),
    ("ext_id", "long"), ("sha256", "string"), ("dl", "int"),
]


def to_segdata(df: DataFrame, kind: str, mapping: dict[str, str]) -> DataFrame:
    """Project a logical-table DataFrame back into kind-tagged SEGDATA rows
    (the inverse of the SEGDATA_VIEWS projections). ``mapping`` maps
    segdata column → source column; everything else becomes a typed NULL.
    Used by the incremental merge to append merged segments in the same
    unified layout the build writes."""
    cols = []
    for name, typ in _SEGDATA_COLS:
        if name == "kind":
            cols.append(F.lit(kind).alias("kind"))
        elif name in mapping:
            cols.append(F.col(mapping[name]).cast(typ).alias(name))
        else:
            cols.append(F.lit(None).cast(typ).alias(name))
    return df.select(*cols)


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Deterministic term → partition bucket (crc32 — stable across runs)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def assign_segments(docs: DataFrame, cfg: IndexConfig, mode: str = "range") -> DataFrame:
    """Add ``segment_id``. ``range``: floor(ext_id / rows_per_segment) —
    contiguous ids per segment (best delta compression) when ext_ids are
    dense; deterministic → resumable (north rule)."""
    if mode == "range":
        return docs.withColumn(
            "segment_id", (F.col("ext_id") / F.lit(cfg.rows_per_segment)).cast("long")
        )
    if mode == "partition":
        # placeholder — the zero-shuffle builder derives segment_id from
        # the task partition id inside the mapInPandas kernel
        return docs.withColumn("segment_id", F.lit(-1).cast("long"))
    raise ValueError(f"unknown segmenter mode {mode!r}")


# ---------------------------------------------------------------------------
# The per-segment build kernel (pandas UDF body). Everything is numpy batch
# ops — the only Python-level loop is over posting *blocks* (slicing one
# pre-encoded buffer), never over rows/tokens (O9, input_hint).
# ---------------------------------------------------------------------------


def _encode_grouped(values: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """varint-encode ``values`` once, then slice per group by byte offsets."""
    if values.size == 0:
        return []
    buf = memoryview(varint_encode(values))
    v = values.astype(np.uint64)
    nb = (
        1
        + (v >= 1 << 7).astype(np.int64)
        + (v >= 1 << 14)
        + (v >= 1 << 21)
        + (v >= 1 << 28)
    )
    byte_ends = np.cumsum(nb)
    # byte offset where each group starts/ends
    g_start_bytes = np.where(group_starts > 0, byte_ends[group_starts - 1], 0)
    g_end_bytes = np.append(g_start_bytes[1:], byte_ends[-1])
    return [bytes(buf[a:b]) for a, b in zip(g_start_bytes, g_end_bytes)]


def _postings(seg: int, toks: pd.Series, counts: np.ndarray, cfg: IndexConfig) -> pd.DataFrame:
    """One segment's token lists (doc_id order) and their lengths →
    posting-block rows.

    Mirrors the reference flush (B1/B2): buffer columnar, build the whole
    field as one dense batch op (``Utils.createFloatMatrix`` analogue =
    factorize + sort over the full token stream).
    """
    n_docs = len(toks)
    flat = list(itertools.chain.from_iterable(toks))
    empty = pd.DataFrame(
        {
            "segment_id": pd.Series([], dtype="int64"),
            "term": pd.Series([], dtype="object"),
            "term_bucket": pd.Series([], dtype="int32"),
            "block_id": pd.Series([], dtype="int32"),
            "first_doc": pd.Series([], dtype="int32"),
            "last_doc": pd.Series([], dtype="int32"),
            "n": pd.Series([], dtype="int32"),
            "max_tf": pd.Series([], dtype="int32"),
            "sum_tf": pd.Series([], dtype="int64"),
            "doc_deltas": pd.Series([], dtype="object"),
            "tfs": pd.Series([], dtype="object"),
        }
    )
    if not flat:
        return empty  # B7: empty-field meta — zero posting rows
    term_codes, uniq_terms = pd.factorize(pd.array(flat), sort=True)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    # (term, doc) pairs → sorted unique with counts = tf
    pair_key = term_codes.astype(np.int64) * n_docs + doc_idx
    pair_key, tf = np.unique(pair_key, return_counts=True)
    term_of = pair_key // n_docs
    doc_of = pair_key % n_docs
    # per-term boundaries in the sorted pair stream
    term_start_mask = np.empty(pair_key.size, dtype=bool)
    term_start_mask[0] = True
    np.not_equal(term_of[1:], term_of[:-1], out=term_start_mask[1:])
    term_starts = np.flatnonzero(term_start_mask)
    # rank within term → block id
    rank = np.arange(pair_key.size, dtype=np.int64)
    rank -= np.repeat(term_starts, np.diff(np.append(term_starts, pair_key.size)))
    block_of = rank // cfg.block_size
    # group = (term, block) boundaries
    grp_start_mask = term_start_mask | np.concatenate(
        ([True], block_of[1:] != block_of[:-1])
    )
    grp_starts = np.flatnonzero(grp_start_mask)
    grp_ends = np.append(grp_starts[1:], pair_key.size)
    grp_sizes = grp_ends - grp_starts
    # deltas: within each group first value is absolute, rest are diffs
    deltas = np.empty(pair_key.size, dtype=np.int64)
    deltas[1:] = doc_of[1:] - doc_of[:-1]
    deltas[grp_starts] = doc_of[grp_starts]
    delta_blobs = _encode_grouped(deltas, grp_starts)
    tf_blobs = _encode_grouped(tf, grp_starts)
    max_tf = np.maximum.reduceat(tf, grp_starts)
    sum_tf = np.add.reduceat(tf, grp_starts)
    g_term = term_of[grp_starts]
    terms_arr = np.asarray(uniq_terms, dtype=object)
    g_term_str = terms_arr[g_term]
    buckets = np.fromiter(
        (term_bucket_py(t, cfg.term_buckets) for t in terms_arr),
        dtype=np.int32,
        count=len(terms_arr),
    )
    return pd.DataFrame(
        {
            "segment_id": np.full(grp_starts.size, seg, dtype=np.int64),
            "term": g_term_str,
            "term_bucket": buckets[g_term],
            "block_id": block_of[grp_starts].astype(np.int32),
            "first_doc": doc_of[grp_starts].astype(np.int32),
            "last_doc": doc_of[grp_ends - 1].astype(np.int32),
            "n": grp_sizes.astype(np.int32),
            "max_tf": max_tf.astype(np.int32),
            "sum_tf": sum_tf.astype(np.int64),
            "doc_deltas": delta_blobs,
            "tfs": tf_blobs,
        }
    )


def build_segment_pdf(pdf: pd.DataFrame, cfg: IndexConfig) -> pd.DataFrame:
    """ONE segment flush in ONE pass: the segment's (segment_id, ext_id,
    content) rows → kind-tagged rows for postings + doc_map + norms +
    terms + stats (SEGDATA_SCHEMA). Each doc's ``dl`` counts the tokens its
    postings are built from, and its ``sha256`` is :func:`sha256_py`'s; a
    null content indexes as an empty document (dl 0, sha256 null)."""
    seg = int(pdf["segment_id"].iloc[0])
    pdf = pdf.sort_values("ext_id", kind="mergesort").reset_index(drop=True)
    n_docs = len(pdf)
    toks = tokenize_py(pdf["content"])
    dls = toks.str.len().to_numpy(np.int64)
    post = _postings(seg, toks, dls, cfg)
    post.insert(1, "kind", "post")

    doc_rows = pd.DataFrame(
        {
            "segment_id": np.full(n_docs, seg, dtype=np.int64),
            "kind": "doc",
            "doc_id": np.arange(n_docs, dtype=np.int32),
            "ext_id": pdf["ext_id"].to_numpy(np.int64),
            "sha256": sha256_py(pdf["content"]),
            "dl": dls.astype(np.int32),
        }
    )
    norms_row = pd.DataFrame(
        {
            "segment_id": [seg],
            "kind": ["norms"],
            "n": [np.int32(n_docs)],
            "doc_deltas": [dls.astype(np.uint32).tobytes()],
            "tfs": [pdf["ext_id"].to_numpy(np.int64).tobytes()],
        }
    )
    # per-term dictionary from the posting blocks (df = sum n, cf = sum tf).
    # post rows are already term-sorted by the build kernel → term
    # boundaries + reduceat, no string groupby (measured 2.3s/segment saved)
    if len(post):
        t_arr = post["term"].to_numpy(object)
        starts_mask = np.empty(len(post), dtype=bool)
        starts_mask[0] = True
        np.not_equal(t_arr[1:], t_arr[:-1], out=starts_mask[1:])
        t_starts = np.flatnonzero(starts_mask)
        term_rows = pd.DataFrame(
            {
                "segment_id": seg,
                "kind": "term",
                "term": t_arr[t_starts],
                "n": np.add.reduceat(post["n"].to_numpy(np.int64), t_starts).astype(np.int32),
                "sum_tf": np.add.reduceat(post["sum_tf"].to_numpy(np.int64), t_starts),
            }
        )
    else:
        term_rows = pd.DataFrame()
    stats_row = pd.DataFrame(
        {
            "segment_id": [seg],
            "kind": ["stats"],
            "n": [np.int32(n_docs)],
            "sum_tf": [np.int64(dls.sum())],
        }
    )
    out = pd.concat(
        [post, doc_rows, norms_row, term_rows, stats_row], ignore_index=True
    )
    cols = [
        "segment_id", "kind", "term", "term_bucket", "block_id", "first_doc",
        "last_doc", "n", "max_tf", "sum_tf", "doc_deltas", "tfs",
        "doc_id", "ext_id", "sha256", "dl",
    ]
    for c in cols:
        if c not in out.columns:
            out[c] = None
    out = out[cols]
    # pandas nullable dtypes so Arrow maps mixed None/int columns cleanly
    int32 = ["term_bucket", "block_id", "first_doc", "last_doc", "n", "max_tf", "doc_id", "dl"]
    for c in int32:
        out[c] = out[c].astype("Int32")
    out["sum_tf"] = out["sum_tf"].astype("Int64")
    out["ext_id"] = out["ext_id"].astype("Int64")
    out["segment_id"] = out["segment_id"].astype("int64")
    return out


def build_norms_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One segment's doc_map rows → one packed norms row."""
    pdf = pdf.sort_values("doc_id", kind="mergesort")
    return pd.DataFrame(
        {
            "segment_id": [int(pdf["segment_id"].iloc[0])],
            "n_docs": [np.int32(len(pdf))],
            "dls": [pdf["dl"].to_numpy(np.uint32).tobytes()],
            "ext_ids": [pdf["ext_id"].to_numpy(np.int64).tobytes()],
        }
    )


def sha256_py(texts: pd.Series) -> list:
    """Hex SHA-256 of each text's UTF-8 bytes (Spark's ``sha2(text,
    256)``), null for a null text."""
    return [None if pd.isna(t) else hashlib.sha256(t.encode("utf-8")).hexdigest()
            for t in texts]


def small_docs(docs: DataFrame) -> pd.DataFrame | None:
    """A caller's (ext_id, content) frame read into the driver when the
    driver flush takes it: at most ``DRIVER_FLUSH_MAX_DOCS`` rows and no
    null id (the Spark flush keeps its own handling of those). None
    otherwise."""
    at = small_arrow(docs, DRIVER_FLUSH_MAX_DOCS)
    if at is None or at.column("ext_id").null_count:
        return None
    return at.to_pandas()


def driver_index(cat: IndexCatalog) -> bool:
    """Whether a write that reads index-wide columns into the driver may
    flush there: segdata's committed bytes (file sizes, no Spark job) fit
    ``DRIVER_FLUSH_MAX_INDEX_BYTES``."""
    return cat.committed_bytes("segdata") <= DRIVER_FLUSH_MAX_INDEX_BYTES


def range_segments(ext_id: np.ndarray, rows_per_segment: int) -> np.ndarray:
    """The ``range`` segmenter in the driver: Spark's
    ``CAST(ext_id / rows_per_segment AS BIGINT)`` (a double division
    truncated toward zero)."""
    return (ext_id.astype(np.float64) / rows_per_segment).astype(np.int64)


def segment_rows(src, cfg: IndexConfig):
    """The flush: ``src``'s (segment_id, ext_id, content) docs → segdata
    rows, :func:`build_segment_pdf` per segment by ``frames.run_kernel`` —
    an Arrow table for a pandas ``src``, the Spark plan for a DataFrame."""
    return run_kernel(functools.partial(build_segment_pdf, cfg=cfg), SEGDATA_SCHEMA, src,
                      by="segment_id")


def _fold_terms_global(segdata: pa.Table) -> pa.Table:
    """``terms_global`` (term, df, cf) from segdata's term rows in hand —
    the Spark flush's ``groupBy("term").agg(sum(df), sum(cf))``."""
    terms = segdata.filter(pc.equal(segdata.column("kind"), "term"))
    g = terms.group_by("term").aggregate([("n", "sum"), ("sum_tf", "sum")])
    return pa.table([g.column("term"), g.column("n_sum").cast(pa.int64()),
                     g.column("sum_tf_sum").cast(pa.int64())],
                    schema=arrow_schema("term string, df long, cf long"))


# ---------------------------------------------------------------------------
# Driver-side orchestration
# ---------------------------------------------------------------------------


def _spark_flush(
    spark: SparkSession, docs: DataFrame, base: DataFrame, cfg: IndexConfig, segmenter: str,
) -> DataFrame:
    """The Spark flush's segdata plan. ONE shuffle (groupBy segment), ONE
    pandas pass per segment emitting postings + doc_map + norms + term
    dictionary + stats, written by ONE plain parquet write. Mirrors a
    Lucene flush writing all per-segment files together — and keeps the
    serial (driver-side) fraction of the build near zero, which is what
    the N→4N scaling efficiency lives on. Hot-term skew cannot bite: work
    is partitioned by segment, never by term. Dynamic-partition
    (partitionBy) writes are NOT used anywhere — their rename-based commit
    degrades ~4x from 2→32 concurrent writers (measured); sorted row-group
    min/max stats give kind/term pruning instead."""
    # a single small parquet file would serialize the whole build into one
    # task; spread the scan before the segment shuffle. File count proxies
    # scan parallelism without forcing an RDD conversion of the plan.
    try:
        n_parts = len(docs.inputFiles())
    except Exception:
        n_parts = 0
    if n_parts == 0:
        n_parts = base.rdd.getNumPartitions()
    base = assign_segments(base, cfg, segmenter)
    if n_parts < spark.sparkContext.defaultParallelism:
        if segmenter == "partition":
            # the zero-shuffle builder chunks by input partition — spread
            # by ext_id so the chunking itself parallelizes
            base = base.repartition(spark.sparkContext.defaultParallelism, "ext_id")
        else:
            # repartition directly ON segment_id (deterministic from
            # ext_id): the flush's groupBy(segment_id) below reuses this
            # hash partitioning, so the fat `content` column crosses the
            # wire ONCE — previously an even-spread repartition(ext_id)
            # was followed by the groupBy's own exchange, shuffling every
            # document text twice (guide §2.4 share one exchange)
            base = base.repartition(
                spark.sparkContext.defaultParallelism, "segment_id"
            )
    if segmenter != "partition":
        return segment_rows(base, cfg)
    # ZERO-shuffle build: input partition ≙ flush batch, exactly the
    # reference's model (SURVEY §3.1: "input partition ≙ flush batch;
    # executor task ≙ writer thread"). segment_id derives from the task
    # partition id; oversized partitions are chunked. The fat `content`
    # column never crosses the wire. Query results are
    # segmentation-invariant (property-tested), but resume determinism
    # requires a stable input layout — use the default "range" segmenter
    # when ids must map to fixed segments.
    rps = cfg.rows_per_segment

    def per_partition(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values("ext_id")
        for i in range(0, len(pdf), rps):
            chunk = pdf.iloc[i : i + rps].copy()
            chunk["segment_id"] = PARTITION_BASE + pid * 100_000 + i // rps
            yield build_segment_pdf(chunk, cfg)

    return base.mapInPandas(per_partition, SEGDATA_SCHEMA)


def text_config(cfg: IndexConfig, segmenter: str = "range") -> dict:
    """The manifest config a text catalog's first write (a build or an
    epoch) records — the ``term_buckets`` its postings are bucketed by is
    read back by every later epoch and query (:func:`index_term_buckets`)."""
    return {
        "rows_per_segment": cfg.rows_per_segment,
        "block_size": cfg.block_size,
        "term_buckets": cfg.term_buckets,
        "bm25": {"k1": cfg.bm25.k1, "b": cfg.bm25.b},
        "segmenter": segmenter,
    }


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
    content_col: str = "content",
    id_col: str = "ext_id",
    segmenter: str = "range",
    resume: bool = True,
) -> IndexCatalog:
    """Build the full inverted index from a documents DataFrame.

    ``docs`` needs an integer id column and a string content column; any
    other columns are ignored (fetch them back via doc_map joins, H9).
    Stages are checkpointed in the catalog manifest: a rerun after a crash
    skips completed stages (north rule resumability).
    """
    cfg = cfg or IndexConfig()
    cat = IndexCatalog(index_root)
    cat.set_config(text_config(cfg, segmenter))
    base = docs.select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(content_col).cast("string").alias("content"),
    )
    # segdata in hand when this call flushed it in the driver: the later
    # stages fold from it instead of reading it back
    held = None
    if not (resume and cat.stage_done("segdata")):
        src = small_docs(base) if segmenter == "range" else None
        if src is None:
            segdata = _spark_flush(spark, docs, base, cfg, segmenter)
        else:
            src["segment_id"] = range_segments(src["ext_id"].to_numpy(np.int64),
                                               cfg.rows_per_segment)
            segdata = held = segment_rows(src, cfg)
        cat.write(segdata, "segdata", sort_by=SEGDATA_SORT)
        cat.define_views(SEGDATA_VIEWS, "segdata")
        cat.mark_stage("segdata")

    # -- stage: global term dictionary (df/cf summed across segments,
    #    sorted by term → a query's idf lookup is one pruned scan of a
    #    compact table instead of an aggregation over per-segment rows)
    if not (resume and cat.stage_done("terms_global")):
        if held is not None:
            cat.write(_fold_terms_global(held), "terms_global", sort_by=["term"])
        else:
            tg = (
                cat.read(spark, "terms")
                .groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            )
            cat.write(tg, "terms_global", sort_by=["term"])
        cat.mark_stage("terms_global")

    # -- stage: corpus stats + per-partition lineage (tiny scan of the
    #    stats rows; cached in the manifest so queries pay zero jobs)
    if not (resume and cat.stage_done("finalize")):
        rows = segment_stats(cat, held)
        n = sum(int(r["n_docs"]) for r in rows)
        toks = sum(int(r["n_tokens"]) for r in rows)
        lineage = {
            str(r["segment_id"]): {"n_docs": int(r["n_docs"]), "n_tokens": int(r["n_tokens"])}
            for r in rows
        }
        cat.mark_stage(
            "finalize",
            lineage=lineage,
            corpus_stats={"n_docs": n, "n_tokens": toks},
        )

    cat.mark_stage("build", status="done")
    return cat


def grouped_dense_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_col: str,
    n_partitions: int | None = None,
):
    """Dense 0-based rank of every row within its group, ordered by
    ``order_cols`` — with NO per-group single-partition window (the thing
    that serializes a forceMerge(1) doc-id assignment through one task).

    Plan: range-partition by (group, order) and LOCAL-CHECKPOINT the
    result — Spark's range partitioner re-samples boundaries per
    execution, so without pinning, the counts pass and the rank pass
    could disagree on partition membership and produce colliding ranks.
    ``localCheckpoint`` (not a mere persist) SEVERS the lineage: even an
    executor loss that forces recomputation on a real cluster cannot
    re-sample boundaries between the two passes. Then ONE tiny
    driver-side pass over per-(partition, group) counts yields cumulative
    offsets, and each partition computes ``offset + local_position``
    map-side (zero further shuffle). Returns ``(ranked_df, release)``;
    call ``release()`` after the ranked output has been fully consumed.
    """
    import pyspark.sql.types as T
    from pyspark import TaskContext

    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
        )
    # materialize the input ONCE before range partitioning: the range
    # partitioner's boundary SAMPLING executes its child in a separate
    # job, so an un-materialized input plan (e.g. the merge's
    # doc_map ⋈ groups ⋈ tombstones) ran fully twice — once for the
    # sample, once for the shuffle (guide §2.4)
    src = df.localCheckpoint(eager=True)
    ordered = src.repartitionByRange(
        n_partitions, *group_cols, *order_cols
    ).localCheckpoint(eager=True)
    try:
        src.unpersist()
    except Exception:
        pass
    cnt_rows = (
        ordered.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", *group_cols)
        .agg(F.count("*").alias("c"))
        .collect()
    )
    by_group: dict[tuple, list[tuple[int, int]]] = {}
    for r in cnt_rows:
        g = tuple(r[c] for c in group_cols)
        by_group.setdefault(g, []).append((int(r["_pid"]), int(r["c"])))
    offsets: dict[tuple, int] = {}
    for g, lst in by_group.items():
        acc = 0
        for pid, c in sorted(lst):
            offsets[(pid,) + g] = acc
            acc += c
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(rank_col, T.LongType(), False)]
    )
    gcols, ocols = list(group_cols), list(order_cols)

    def rank_partition(batches):
        pid = TaskContext.get().partitionId()
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(
            gcols + ocols, kind="mergesort"
        )
        local = pdf.groupby(gcols, sort=False).cumcount().to_numpy(np.int64)
        base = np.fromiter(
            (
                offsets[(pid,) + (g if isinstance(g, tuple) else (g,))]
                for g in (
                    pdf[gcols].itertuples(index=False, name=None)
                    if len(gcols) > 1
                    else pdf[gcols[0]]
                )
            ),
            dtype=np.int64,
            count=len(pdf),
        )
        pdf[rank_col] = base + local
        yield pdf

    ranked = ordered.mapInPandas(rank_partition, out_schema)

    def _release():
        # checkpoint blocks are reclaimed by the ContextCleaner once the
        # RDD is unreferenced; best-effort explicit unpersist on top
        try:
            ordered.unpersist()
        except Exception:
            pass

    return ranked, _release


def verify_integrity(
    spark: SparkSession,
    cat: IndexCatalog,
    source_docs: DataFrame,
    content_col: str = "content",
    id_col: str = "ext_id",
) -> DataFrame:
    """Integrity check (S11 + input_hint invariant): per-row
    ``sha256(content)`` equality between the index's doc_map and the
    source table, plus coverage both ways. Returns the violation rows
    (empty DataFrame ⇔ index is intact)."""
    src = source_docs.select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.sha2(F.col(content_col).cast("string"), 256).alias("src_sha"),
    )
    dm = cat.read(spark, "doc_map").select("ext_id", "sha256")
    joined = dm.join(src, "ext_id", "full_outer")
    return joined.filter(
        F.col("sha256").isNull()
        | F.col("src_sha").isNull()
        | (F.col("sha256") != F.col("src_sha"))
    )


def index_term_buckets(cat: IndexCatalog) -> int:
    """The ``term_buckets`` the index's postings were written with, as its
    first write recorded it (:func:`text_config`)."""
    return int(cat.read_manifest()["config"]["term_buckets"])


def segment_stats(cat: IndexCatalog, segdata: pa.Table | None = None) -> list[dict]:
    """The ``segment_stats`` view's rows as {segment_id, n_docs, n_tokens}
    dicts: segdata's ``stats`` rows, read by pyarrow (no Spark job), or
    taken from the ``segdata`` table in hand."""
    stats = pc.field("kind") == "stats"
    cols = ["segment_id", "n", "sum_tf"]
    at = (cat.read_arrow("segdata", cols, where=stats) if segdata is None
          else segdata.filter(stats).select(cols))
    return at.rename_columns(["segment_id", "n_docs", "n_tokens"]).to_pylist()


def corpus_stats(cat: IndexCatalog) -> tuple[int, float]:
    """(N, avgdl) over all indexed docs. Served from the manifest cache
    when the index is unchanged since finalize (zero Spark jobs per
    query); summed from :func:`segment_stats` otherwise (e.g.
    post-merge)."""
    m = cat.read_manifest()
    fin = m["stages"].get("finalize", {})
    cached = fin.get("corpus_stats")
    if cached and fin.get("at", 0) >= stats_version(m):
        n = cached["n_docs"]
        return n, (cached["n_tokens"] / n if n else 0.0)
    rows = segment_stats(cat)
    n = sum(r["n_docs"] for r in rows)
    t = sum(r["n_tokens"] for r in rows)
    return n, (t / n if n else 0.0)
