"""ANN sidecar index — the reference codec's own role re-expressed
Spark-first (SURVEY.md Layer B: §2.2 B2-B5/B9-B11, §2.4 S1-S6), laid out
like the reference's pluggable ``KnnVectorsFormat`` layer: a registry of
vector formats around one host-side search driver.

Storage. ``ann_flat`` — per segment, the raw float32 row-major matrix and
its ext_id map, sorted by ext_id (the delegated ``FlatVectorsFormat``, I3)
— is the source of truth; ``ann_ids`` is its thin (segment_id, ext_id)
map. Every other table is a derived FORMAT built per segment from flat
blobs by the flush kernel (``CuVS2510GPUVectorsWriter.writeFieldInternal:
181-234``; the dense matrix is the ``Utils.createFloatMatrix:56-72``
analogue). The tables have one layout, ``ANN_FORMAT_VERSION``, which
every first write records in the catalog config (:func:`ann_config`); the
catalog refuses any other when it opens (``catalog.check_format``, as the
reference's ``checkVersion:589-601``), so no reader here sniffs an older
layout.

Formats (``FORMATS``). One entry per derived table supplies what only
that format knows:

- its table, row schema and sort keys;
- its kernel, one module-level function from the rows of its input
  tables (pandas frames: flat rows, or IVF lists plus PQ codebooks) to
  its own rows — ``_sq_rows`` (B10), ``_bq_rows`` (B9), ``_ivf_rows``
  (k-means lists with the ``CagraIndexParamsFactory.java:31-93,149-178``
  heuristics, O1/O2), ``ann_graph._graph_rows`` (B12), ``_pq_rows``,
  ``_ivfpq_rows``;
- its coarse scorer, if it is compressed: SQ dequantize, PQ / IVF-PQ ADC
  lookup table, BQ Hamming (raw IVF lists and exact scans have none; the
  graph navigates by beam search).

Build, streaming epochs, merge and compaction all walk this one list, so
a new format is one entry plus a thin search wrapper. Each of them is one
catalog transaction (``IndexCatalog.transaction``): flat, ids, every
format and the B2 bookkeeping of a build, epoch, merge or compaction
become visible in one manifest swap, so every committed table covers the
same segments as ``ann_flat``.

Writes. Every kernel — the flat flush's ``build_flat_pdf``
(:func:`flat_rows`) and each format's (:meth:`AnnFormat.rows`) — runs
through ``frames.run_kernel``, as the text flush's ``build_segment_pdf``
does; the gate only chooses its source's transport. Builds, format builds
and epochs of at most ``ANN_DRIVER_MAX_VALUES`` vector values run in the
driver, as the reference builds each segment's index in-process at flush
(``CuVS2510GPUVectorsWriter.java:128-148``): the caller's frame is read
once (``small_vectors``), a format build reads its inputs by pyarrow
(``IndexCatalog.read_arrow``) and every table is written by pyarrow — no
Spark job beyond the read of the caller's frame. Larger writes, merges
and compactions run the same kernels on Spark.

Search (S1-S6). Each public search function writes its format's plan
in the pieces of one search driver (``_search`` / ``_Plan``), which holds
the contract the reference's host supplies around every format:

- metric: derived formats search under the index's build metric; cosine
  indexes navigate in unit space (``_nav_vectors``) and rescore raw flat
  vectors; L2 scores normalize ``1/(1 + d)``, d = squared L2
  (``getScoreNormalizationFunc:390-393``);
- acceptDocs: the query filter and the tombstones are a PRE-filter inside
  every leaf — closure arrays when small, per-segment blobs when large
  (``_resolve_filter``, ``_resolve_tombstones``;
  ``CuVS2510GPUVectorsReader.java:418-434``);
- visit budget: ``visited_limit`` caps the vectors a leaf scores, first in
  ext_id order; a tiny budget degrades recall, never errors
  (``GPUPerLeafCuVSKnnCollector.java:26-38``);
- B2 fallback: a segment with no index rows (below
  ``min_ann_index_size``, or oversized for the graph) is scanned exactly
  from flat — every vector is reachable in every mode, like the
  reference's per-leaf routing;
- exact rerank: compressed formats cut ``k · rerank_factor`` coarse
  candidates per leaf and rescore them exactly from flat;
- one tie rule: best first, lower ext_id first among equals —
  ``lexsort((ids, key))`` in the numpy kernels (``_exact_topk``,
  ``_rerank_topk``, ``_top_order``) and ``orderBy(score desc, ext_id
  asc)`` in a Spark plan's global top-k.

Two tiers run a plan, with the same per-leaf kernels, so they return the
same (ext_id, score) lists bit for bit:

- resident (``_Resident``): the per-leaf search runs in the serving
  process, as Lucene's stock HNSW reader does for the reference
  (``Lucene99AcceleratedHNSWVectorsFormat.java:103-110``). Each catalog
  keeps one pack (``resident.Pack``, shared with BM25): every table read
  by ``IndexCatalog.read_arrow`` (no Spark job) at its first use and kept
  until its own manifest entry changes (extended in place when a commit
  only appended to it or dropped segments). The kernels run over the
  pack's pandas frames in the driver and the top-k comes back as a
  ``LocalRelation``: a warm query runs no Spark job. It serves
  single queries while the ANN tables' committed bytes fit
  ``RESIDENT_MAX_BYTES`` (sized from the measured crossover with the
  Spark tier);
- Spark (``_Search``): the plan shapes per format — exact and IVF are one
  ``mapInPandas`` over flat rows or the probed lists; SQ, PQ, BQ and the
  graph are one cogroup with ``ann_flat``; IVF-PQ is an ADC
  ``mapInPandas`` over the probed code lists, then a rerank cogroup. It
  serves a catalog over the budget, filters and tombstones large enough
  for the blob tier, and the distributed probe modes (see ``_search``).

``knn_join_ivf`` takes a query DataFrame. Under the same conditions, when
``frames.small_arrow`` reads the query side into the driver — it holds at
most ``resident.RESIDENT_JOIN_MAX_QUERIES`` rows (the measured crossover
with the Spark tier), and is a ``LocalRelation`` (no job) or a plan a
limit reads only a head of (one job; no aggregate, join, sort or shuffle
in it) — it runs its probe and per-list kernels over the pack
(``_join_resident``). Otherwise it is one Spark plan that never collects
the query side; a plan that knows its row count is over the bound goes
there with no head read.

Routing mirrors S1: ``k > max_k_ann`` or no IVF index → brute force.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import (
    AnnParams,
    IndexConfig,
    ivf_pq_params,
    shuffle_partitions,
)
from cuvs_lucene_spark.functions.quantize import (
    binary_quantize,
    scalar_dequantize,
    scalar_quantize,
    widen_unsigned,
)
from cuvs_lucene_spark.frames import (_arrow, _frame, _rows, head_arrow, local_frame, run_kernel,
                                      small_arrow)
from cuvs_lucene_spark.operators import resident as R
from cuvs_lucene_spark.operators import segments as S
from cuvs_lucene_spark.sources.catalog import ANN_FORMAT_VERSION, IndexCatalog, transactional

ANN_DRIVER_MAX_VALUES = 384_000  # builds, format builds and epochs of at
                                 # most this many vector values (vectors ×
                                 # dim) run in the driver
# The driver tier runs the kernels on one core, the Spark tier over the
# executors. Measured on fixtures.generate_embeddings_pdf vectors on
# local[4], rows_per_segment = n/4, a cached input frame, BLAS pools of one
# thread, medians of 3 warm runs, driver/Spark s, identical rows. At 64-d:
# build_ann 2k 0.08/0.55, 8k 0.09/0.69, 20k 0.12/0.81, 50k 0.34/1.05;
# build_ann_pq 2k 0.29/0.41, 4k 0.34/0.48, 6k 0.40/0.54, 8k 0.47/0.37, 20k
# 0.87/0.57, 50k 1.82/1.11; build_ann_ivfpq 2k 0.08/0.30, 50k 0.23/0.45;
# build_ann_graph 2k 0.13/0.25, 6k 0.27/0.43, 8k 0.44/0.38, 20k 4.05/2.17,
# 50k 10.6/5.5; an epoch (every format) 2k 0.48/1.42, 8k 0.90/1.74, 20k
# 4.15/4.27, 50k 11.1/6.7. At 256-d: build_ann_pq 1,250 0.46/0.57, 2k
# 0.58/0.43, 8k 1.71/1.03; build_ann_graph 8k 0.46/0.40. PQ and the graph
# cross over first, between 6k and 8k vectors at 64-d (384k-512k values)
# and between 1,250 and 2k at 256-d (320k-512k), so the bound is 6k × 64.
# Below 33-d, PQ's 8-bit codebooks tie (32-d: 3k 2.07/2.16, 6k 2.36/2.43)
# and 8k × 8 and 8k × 16 are faster in the driver for every write. The
# caller's frame is read in at most segments.DRIVER_FLUSH_MAX_DOCS rows,
# which binds first below 48-d.

FLAT_SCHEMA = "segment_id long, n_vecs int, dim int, ext_ids binary, vectors binary"
IDS_SCHEMA = "segment_id long, ext_id long"
PQ_SCHEMA = (
    "segment_id long, n_vecs int, dim int, pq_dim int, pq_bits int, "
    "codebook binary, codes binary"
)
SQ_SCHEMA = "segment_id long, n_vecs int, dim int, mins binary, maxs binary, codes binary"
BQ_SCHEMA = "segment_id long, n_vecs int, dim int, centroid binary, codes binary"
IVF_SCHEMA = (
    "segment_id long, list_id int, n int, ext_ids binary, vectors binary"
)
IVFPQ_SCHEMA = "segment_id long, list_id int, n int, ext_ids binary, codes binary"
GRAPH_SCHEMA = (
    "segment_id long, layer int, stride int, n_nodes int, degree int, "
    "offsets binary, graph binary"
)
TOPK_SCHEMA = "segment_id long, ext_id long, score double"

def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Row-normalize to unit L2 (float64 math, float32 out). Zero rows
    pass through unchanged."""
    n = np.linalg.norm(x.astype(np.float64), axis=1, keepdims=True)
    n[n == 0] = 1.0
    return (x / n).astype(np.float32)


def _nav_vectors(x: np.ndarray, metric: str) -> np.ndarray:
    """Vectors in NAVIGATION space: the derived structures (SQ/IVF/PQ/graph)
    of a COSINE index are built over unit-normalized vectors, so their L2
    geometry ranks identically to cosine (d² = 2 - 2·cos on unit vectors) —
    the same normalize-then-L2 treatment Lucene applies for
    VectorSimilarityFunction.COSINE. L2 indexes pass through raw. The flat
    storage always keeps RAW vectors (source of truth for merge-as-rebuild),
    and cosine itself is scale-invariant, so exact rerank from flat is
    metric-correct either way."""
    return _unit_rows(x) if metric == "cosine" else x


def _nav_query(q: np.ndarray, metric: str) -> np.ndarray:
    """Query vector in navigation space (see :func:`_nav_vectors`)."""
    if metric != "cosine":
        return q
    n = float(np.linalg.norm(q.astype(np.float64)))
    return q if n == 0 else (q / n).astype(q.dtype)


def _kmeans(x: np.ndarray, n_lists: int, iters: int, seed: int, trainset_fraction: float) -> np.ndarray:
    """Deterministic Lloyd k-means (the IVF coarse quantizer)."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    n_train = max(n_lists, int(n * trainset_fraction))
    train = x[rng.choice(n, size=min(n, n_train), replace=False)]
    cents = train[rng.choice(train.shape[0], size=n_lists, replace=False)].copy()
    for _ in range(iters):
        d = ((train[:, None, :] - cents[None, :, :]) ** 2).sum(-1) if train.shape[0] * n_lists * x.shape[1] < 5e7 else None
        if d is None:
            # blocked distance computation for larger trainsets
            d = -2.0 * train @ cents.T
            d += (cents**2).sum(1)[None, :]
        assign = d.argmin(1)
        for c in range(n_lists):
            m = assign == c
            if m.any():
                cents[c] = train[m].mean(0)
    return cents


# ---------------------------------------------------------------------------
# Format kernels: flat rows (or IVF lists plus PQ codebooks) → one format's
# rows, pandas in and pandas out, run by ``frames.run_kernel`` on the frames
# in hand or on Spark (:meth:`AnnFormat.rows`).
# ---------------------------------------------------------------------------


def _per_segment(flat: pd.DataFrame, metric: str, encode, schema: str) -> pd.DataFrame:
    """One format row per flat segment row: ``encode(x)`` maps the
    segment's vectors in navigation space (unit-normalized for cosine
    indexes) to the format's own columns. The kernels of the per-segment
    formats (SQ, BQ, PQ) are this loop over their encoder."""
    rows = []
    for r in flat.itertuples(index=False):
        x = np.frombuffer(r.vectors, np.float32).reshape(r.n_vecs, r.dim)
        rows.append({"segment_id": r.segment_id, "n_vecs": r.n_vecs, "dim": r.dim,
                     **encode(_nav_vectors(x, metric))})
    return _rows(rows, schema)


def _sq_rows(flat: pd.DataFrame, cfg: IndexConfig, metric: str = "l2") -> pd.DataFrame:
    """Per-segment scalar-quantized codes (B10) from flat rows."""

    def encode(x):
        q, mins, maxs = scalar_quantize(x)
        return {"mins": mins.astype(np.float32).tobytes(),
                "maxs": maxs.astype(np.float32).tobytes(), "codes": q.tobytes()}

    return _per_segment(flat, metric, encode, SQ_SCHEMA)


def _bq_rows(flat: pd.DataFrame, cfg: IndexConfig, metric: str = "l2") -> pd.DataFrame:
    """Per-segment binary-quantized codes (B9): mean-centroid sign bits
    packed 8/byte — the LuceneAcceleratedHNSWBinaryQuantized analogue.
    Quantizing in navigation space is the Lucene normalize-before-quantize
    COSINE treatment, so the hamming order tracks angular structure, not
    raw magnitudes."""

    def encode(x):
        packed, centroid = binary_quantize(x)
        # float64 so query-side bits reproduce build-side bits
        return {"centroid": centroid.astype(np.float64).tobytes(), "codes": packed.tobytes()}

    return _per_segment(flat, metric, encode, BQ_SCHEMA)


def _ivf_rows(flat: pd.DataFrame, cfg: IndexConfig, metric: str = "l2") -> pd.DataFrame:
    """Per-segment IVF lists (deterministic k-means, O2 parameter
    heuristics); segments below min_ann_index_size emit nothing (B2).
    For cosine indexes, k-means and list ASSIGNMENT run in unit space
    (spherical k-means; centroids are probed against the normalized
    query), but the lists store the RAW vectors — cosine scoring is
    scale-invariant, so stored-copy scores stay bit-equal to flat."""
    ann = cfg.ann
    rows = []
    for r in flat.itertuples(index=False):
        x = np.frombuffer(r.vectors, np.float32).reshape(r.n_vecs, r.dim)
        n = x.shape[0]
        if n < ann.min_ann_index_size:
            continue  # B2 fallback: brute force only for tiny segments
        xn = _nav_vectors(x, metric)
        ids = np.frombuffer(r.ext_ids, np.int64)
        p = ivf_pq_params(n, x.shape[1])
        n_lists = min(p["n_lists"], n)
        cents = _kmeans(xn, n_lists, ann.kmeans_iters, ann.seed, p["kmeans_trainset_fraction"])
        assign = (-2.0 * xn @ cents.T + (cents**2).sum(1)[None, :]).argmin(1)
        for c in range(n_lists):
            m = np.flatnonzero(assign == c)
            if m.size:
                rows.append((r.segment_id, c, m.size, ids[m].tobytes(), x[m].tobytes()))
        # centroid row: list_id = -1; ext_ids carries the segment's total
        # vector count (int64) so the query-side probe can resolve
        # n_probes without scanning the list rows
        rows.append((r.segment_id, -1, n_lists, np.asarray([n], np.int64).tobytes(),
                     cents.astype(np.float32).tobytes()))
    return _rows(rows, IVF_SCHEMA)


def _pq_rows(flat: pd.DataFrame, cfg: IndexConfig, metric: str = "l2") -> pd.DataFrame:
    """Per-segment PQ codebooks + codes from flat rows: ``pq_dim``
    contiguous subspaces, each with its own deterministic k-means codebook
    of 2^pq_bits centroids."""
    seed = cfg.ann.seed
    iters = cfg.ann.kmeans_iters

    def encode(x):
        n, dim = x.shape
        p = ivf_pq_params(n, dim)
        pq_dim, bits = p["pq_dim"], p["pq_bits"]
        if dim % pq_dim:
            pq_dim = dim  # fall back to 1-dim subspaces
        sub = dim // pq_dim
        k_cb = min(1 << bits, n)
        books = np.empty((pq_dim, 1 << bits, sub), np.float32)
        codes = np.empty((n, pq_dim), np.uint8)
        for s in range(pq_dim):
            xs = x[:, s * sub : (s + 1) * sub]
            cents = _kmeans(xs, k_cb, iters, seed + s, 1.0)
            d = -2.0 * xs @ cents.T + (cents**2).sum(1)[None, :]
            codes[:, s] = d.argmin(1).astype(np.uint8)
            books[s, :k_cb] = cents
            if k_cb < (1 << bits):
                books[s, k_cb:] = cents[0]  # pad unused slots
        return {"pq_dim": np.int32(pq_dim), "pq_bits": np.int32(bits),
                "codebook": books.tobytes(), "codes": codes.tobytes()}

    return _per_segment(flat, metric, encode, PQ_SCHEMA)


def _ivfpq_rows(ivf: pd.DataFrame, pq: pd.DataFrame, cfg: IndexConfig,
                metric: str = "l2") -> pd.DataFrame:
    """Per-list PQ codes — the combined IVF-PQ structure the reference's
    parameter factory derives as ONE unit (``CagraIndexParamsFactory.java:
    31-93`` sets nLists/nProbes AND pqDim/pqBits together; cuVS's IVF_PQ
    index stores pq-encoded residualless codes per inverted list). Each
    segment's IVF lists (``ivf``'s rows with ``list_id >= 0``) are
    re-encoded against the segment's PQ codebook (``pq``'s row; navigation
    space), so a probed list costs ``n·pq_dim`` bytes instead of
    ``n·4·dim`` — the read-volume shape that works at 100 TB. A segment
    with lists but no codebook, or a codebook but no lists, emits
    nothing."""
    books = {}
    for r in pq.itertuples(index=False):
        pq_dim, bits, dim = int(r.pq_dim), int(r.pq_bits), int(r.dim)
        books[int(r.segment_id)] = (dim, np.frombuffer(r.codebook, np.float32).reshape(
            pq_dim, 1 << bits, dim // pq_dim))
    out = []
    for lr in ivf.itertuples(index=False):
        if lr.list_id < 0 or int(lr.segment_id) not in books:
            continue
        dim, book = books[int(lr.segment_id)]
        pq_dim, sub = book.shape[0], book.shape[2]
        x = np.frombuffer(lr.vectors, np.float32).reshape(int(lr.n), dim)
        xn = _nav_vectors(x, metric)
        codes = np.empty((int(lr.n), pq_dim), np.uint8)
        for s_ in range(pq_dim):
            xs = xn[:, s_ * sub : (s_ + 1) * sub].astype(np.float64)
            cb = book[s_].astype(np.float64)
            d = -2.0 * xs @ cb.T + (cb**2).sum(1)[None, :]
            codes[:, s_] = d.argmin(1).astype(np.uint8)
        out.append((int(lr.segment_id), int(lr.list_id), int(lr.n), lr.ext_ids, codes.tobytes()))
    return _rows(out, IVFPQ_SCHEMA)


def build_flat_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (segment_id, ext_id, vector) group → one packed flat-storage row
    (the Utils.createFloatMatrix dense-matrix analogue) — shared by the
    batch build, the epochs (either tier) and the group-wise ANN merge."""
    pdf = pdf.sort_values("ext_id")
    x = np.stack(pdf["vector"].to_numpy()).astype(np.float32)
    return pd.DataFrame(
        {
            "segment_id": [int(pdf["segment_id"].iloc[0])],
            "n_vecs": [np.int32(x.shape[0])],
            "dim": [np.int32(x.shape[1])],
            "ext_ids": [pdf["ext_id"].to_numpy(np.int64).tobytes()],
            "vectors": [x.tobytes()],
        }
    )


def flat_rows(src) -> tuple:
    """The flat flush: ``src``'s (segment_id, ext_id, vector) rows → (the
    flat rows, :func:`build_flat_pdf` per segment by ``frames.run_kernel``;
    the ``ann_ids`` map), Arrow tables for a pandas ``src`` and Spark plans
    for a DataFrame."""
    ids = (src.select("segment_id", "ext_id") if isinstance(src, DataFrame)
           else _arrow(src[["segment_id", "ext_id"]], IDS_SCHEMA))
    return run_kernel(build_flat_pdf, FLAT_SCHEMA, src, by="segment_id"), ids


def _check_vectors(maxd, mind, dups: int, ann: AnnParams) -> None:
    """I1/I2 analogues over a frame's largest and smallest vector length
    (None when empty) and its duplicate id count."""
    if maxd is not None and maxd > ann.max_dims:
        raise ValueError(f"vector dim {maxd} exceeds max {ann.max_dims}")
    if maxd != mind:
        raise ValueError("ragged vector dimensions")
    if dups:
        raise ValueError("multiple vectors per doc id (GPUFieldWriter.addValue guard)")


def validate_vectors(df: DataFrame, vector_col: str, id_col: str, ann: AnnParams) -> None:
    """I1/I2 analogues: reject >max_dims and duplicate vectors per doc (one
    aggregate job; the driver tier checks its frame in numpy)."""
    row = df.select(
        F.max(F.size(vector_col)).alias("maxd"),
        F.min(F.size(vector_col)).alias("mind"),
        (F.count("*") - F.countDistinct(id_col)).alias("dups"),
    ).collect()[0]
    _check_vectors(row["maxd"], row["mind"], row["dups"], ann)


def small_vectors(df: DataFrame, id_col: str, vector_col: str,
                  ann: AnnParams) -> pd.DataFrame | None:
    """A caller's (id, vector) frame read into the driver when the driver
    tier takes it (``frames.small_arrow``): at most
    ``ANN_DRIVER_MAX_VALUES`` vector values in at most
    ``segments.DRIVER_FLUSH_MAX_DOCS`` rows, integer ids, and no null id,
    vector or element (the Spark path keeps its own handling of those).
    Returns it as (ext_id int64, vector) after :func:`validate_vectors`'
    checks in numpy, or None."""
    at = small_arrow(df.select(id_col, vector_col), S.DRIVER_FLUSH_MAX_DOCS)
    if at is None:
        return None
    ids, vecs = at.column(0), at.column(1)
    if (not pa.types.is_integer(ids.type) or ids.null_count or vecs.null_count
            or pc.list_flatten(vecs).null_count):
        return None
    dims = pc.list_value_length(vecs).to_numpy()
    if dims.sum() > ANN_DRIVER_MAX_VALUES:
        return None
    ext = ids.to_numpy().astype(np.int64)
    _check_vectors(int(dims.max()) if dims.size else None,
                   int(dims.min()) if dims.size else None,
                   ext.size - np.unique(ext).size, ann)
    return pd.DataFrame({"ext_id": ext, "vector": vecs.to_pandas()})


# ---------------------------------------------------------------------------
# Coarse scorers (executor side): approximate distance per vector of one
# segment or list row, lower = closer
# ---------------------------------------------------------------------------


def _sq_coarse(r, ctx: "_Query") -> np.ndarray:
    """SQ: the index metric over the dequantized 7-bit codes. B11
    round-trip: unsigned widening is the wire format the device sees, so
    shift back before dequantizing."""
    codes = np.frombuffer(r.codes, np.int8).reshape(int(r.n_vecs), int(r.dim))
    codes_i = (widen_unsigned(codes).astype(np.int16) - 64).astype(np.int8)
    x_deq = scalar_dequantize(
        codes_i, np.frombuffer(r.mins, np.float32), np.frombuffer(r.maxs, np.float32)
    )
    return -_scores(x_deq, ctx.q, ctx.metric)


def _adc_coarse(r, ctx: "_Query") -> np.ndarray:
    """PQ / IVF-PQ asymmetric distance: one (pq_dim × 2^bits) lookup table
    of squared L2 from each navigation-space query subvector to every
    centroid of its subspace, summed over each vector's codes."""
    pq_dim, bits = int(r.pq_dim), int(r.pq_bits)
    sub = int(r.dim) // pq_dim
    books = np.frombuffer(r.codebook, np.float32).reshape(pq_dim, 1 << bits, sub)
    codes = np.frombuffer(r.codes, np.uint8).reshape(-1, pq_dim)
    qsub = ctx.qn.astype(np.float64).reshape(pq_dim, sub)
    lut = ((books.astype(np.float64) - qsub[:, None, :]) ** 2).sum(2)
    return lut[np.arange(pq_dim)[None, :], codes].sum(1)


def _bq_coarse(r, ctx: "_Query") -> np.ndarray:
    """BQ: Hamming distance between the query's and each vector's sign
    bits about the segment centroid (navigation space)."""
    codes = np.frombuffer(r.codes, np.uint8).reshape(int(r.n_vecs), -1)
    centroid = np.frombuffer(r.centroid, np.float64)
    qbits = np.packbits(ctx.qn.astype(np.float64) > centroid)
    return np.unpackbits(codes ^ qbits[None, :], axis=1).sum(1)


# ---------------------------------------------------------------------------
# Format registry
# ---------------------------------------------------------------------------


class AnnFormat(NamedTuple):
    """One derived vector format. ``kernel(*inputs, cfg=, metric=)`` maps
    the rows of its ``inputs`` tables (pandas frames) to its own rows: one
    kernel per format, run on either transport by :meth:`rows`.
    ``default`` formats are written by every build, epoch and merge, the
    others are maintained once built. ``keys`` order a full write
    (list-keyed tables prune the probe's ``list_id IN`` scan by row-group
    statistics)."""

    table: str
    schema: str
    kernel: Callable[..., pd.DataFrame]
    coarse: Callable | None = None
    default: bool = False
    inputs: tuple[str, ...] = ("ann_flat",)
    keys: tuple[str, ...] = ()

    def rows(self, src, cfg: IndexConfig, metric: str, **kw):
        """The format's rows for the segments ``src(table)`` serves, by
        ``frames.run_kernel`` on the transport its inputs come on: pandas
        frames give an Arrow table; DataFrames a ``mapInPandas`` over the
        flat rows, or their cogroup by segment for two inputs (IVF-PQ)."""
        kernel = functools.partial(self.kernel, cfg=cfg, metric=metric, **kw)
        ins = [src(t) for t in self.inputs]
        return run_kernel(kernel, self.schema, *ins, by="segment_id" if len(ins) > 1 else None)


def _graph_kernel(flat: pd.DataFrame, cfg: IndexConfig, metric: str, **kw) -> pd.DataFrame:
    from cuvs_lucene_spark.operators.ann_graph import _graph_rows  # imports this module

    return _graph_rows(flat, cfg, metric, **kw)


FORMATS: dict[str, AnnFormat] = {
    "sq": AnnFormat("ann_sq", SQ_SCHEMA, _sq_rows, _sq_coarse, default=True),
    "bq": AnnFormat("ann_bq", BQ_SCHEMA, _bq_rows, _bq_coarse, default=True),
    "ivf": AnnFormat("ann_ivf", IVF_SCHEMA, _ivf_rows, default=True,
                     keys=("segment_id", "list_id")),
    "graph": AnnFormat("ann_graph", GRAPH_SCHEMA, _graph_kernel),
    "pq": AnnFormat("ann_pq", PQ_SCHEMA, _pq_rows, _adc_coarse),
    "ivfpq": AnnFormat("ann_ivfpq", IVFPQ_SCHEMA, _ivfpq_rows, _adc_coarse,
                       inputs=("ann_ivf", "ann_pq"), keys=("segment_id", "list_id")),
}


def _index_metric(cat: IndexCatalog) -> str:
    return cat.read_manifest()["config"]["ann_metric"]


def _concurrently(*writes: Callable[[], object]) -> None:
    """Run mutually independent table writes from a small driver thread
    pool, so their Spark jobs overlap (guide §2.6) and the caller pays the
    slowest write instead of the sum; each writes a distinct table, and
    the first failure is raised once all have finished."""
    with ThreadPoolExecutor(max_workers=max(1, len(writes))) as pool:
        for fut in [pool.submit(w) for w in writes]:
            fut.result()


def _flat_fits(cat: IndexCatalog) -> bool:
    """Whether ``ann_flat`` holds at most ``ANN_DRIVER_MAX_VALUES`` vector
    values (its ``n_vecs`` · ``dim`` pairs, read by pyarrow: no job)."""
    t = cat.read_arrow("ann_flat", ["n_vecs", "dim"])
    n = pc.multiply(pc.cast(t["n_vecs"], pa.int64()), pc.cast(t["dim"], pa.int64()))
    return (pc.sum(n).as_py() or 0) <= ANN_DRIVER_MAX_VALUES


def _write_format(spark: SparkSession, cat: IndexCatalog, fmt: AnnFormat,
                  cfg: IndexConfig, src=None, **kw) -> None:
    """Full (re)build of one format from the tables it derives from, and
    its stage, in one transaction (the caller's, if any). ``src(table)``
    defaults to a read of the committed table: by pyarrow into the driver
    while ``ann_flat`` fits the driver tier (:func:`_flat_fits`), by Spark
    otherwise. ``kw`` reaches the kernel."""
    with cat.transaction() as tx:
        if src is None:
            src = ((lambda t: tx.read_arrow(t).to_pandas()) if _flat_fits(tx)
                   else (lambda t: tx.read(spark, t)))
        tx.write(fmt.rows(src, cfg, _index_metric(tx), **kw), fmt.table,
                 sort_by=list(fmt.keys) or None)
        tx.mark_stage(fmt.table)


def _append_formats(cat: IndexCatalog, cfg: IndexConfig, metric: str, src,
                    tag: str, extra_entry=lambda table: None) -> None:
    """Append every maintained format's rows for the new segments ``src``
    serves (Spark DataFrames, or pandas frames on the driver tier), under
    one shared tag (a streaming epoch or a merge generation), inside the
    caller's transaction. Formats built from flat are mutually independent
    (:func:`_concurrently`); formats built from other derived tables
    (IVF-PQ) follow once those are staged."""
    fmts = [
        f for f in FORMATS.values()
        if f.default or all(cat.exists(t) for t in (f.table, *f.inputs))
    ]

    def one(f: AnnFormat, src) -> None:
        cat.append(f.rows(src, cfg, metric), f.table, tag=tag,
                   extra_entry=extra_entry(f.table))

    first = [f for f in fmts if f.inputs == ("ann_flat",)]
    flat = src("ann_flat")  # one read shared by the pool (see build_ann)
    _concurrently(*(lambda f=f: one(f, lambda t: flat) for f in first))
    for f in fmts:
        if f not in first:
            one(f, src)


def _mark_bf_fallback(cat: IndexCatalog) -> None:
    """B2 bookkeeping on the ``ann_ivf`` stage, recomputed after every
    build, epoch and merge: the segments with no IVF index (brute-forced
    by every IVF search without re-deriving the set per query) and the
    indexed-segment count (``probe_mode='auto'``'s driver→distributed
    switch). Both are segment-count-sized reads of the segment ids by
    pyarrow (inside a transaction, of its staged directories): no job.
    ``mark_stage`` replaces the stage dict, so other entries carry over."""
    flat = set(cat.read_arrow("ann_flat", ["segment_id"]).column(0).to_pylist())
    ivf = set(cat.read_arrow("ann_ivf", ["segment_id"],
                             where=pc.field("list_id") == -1).column(0).to_pylist())
    stage = {
        k: v for k, v in cat.read_manifest()["stages"].get("ann_ivf", {}).items()
        if k not in ("status", "at")
    }
    stage.update(bf_fallback_segments=sorted(flat - ivf), n_ivf_segments=len(ivf))
    cat.mark_stage("ann_ivf", **stage)


def ann_config(ann: AnnParams, rows_per_segment: int) -> dict:
    """The manifest config an ANN catalog's first write (a build or an
    epoch) records: the format and the build metric every reader trusts,
    the segment size later rebuilds keep, and the merge-pressure knobs
    :func:`delete_ann` reads — INDEX state, never a later caller's cfg."""
    return {
        "ann_metric": ann.metric,
        "ann_format": ANN_FORMAT_VERSION,
        "rows_per_segment": rows_per_segment,
        "delete_merge_fraction": ann.delete_merge_fraction,
        "delete_merge_max_count": ann.delete_merge_max_count,
    }


def _check_index_metric(metric: str) -> None:
    """MIP has no normalize-to-L2 reduction; derived structures (IVF/SQ/
    PQ/graph) would rank wrong-metric. Exact scans (ann_topk
    mode="exact", knn_join, exact_knn_expr) support dot directly."""
    if metric == "dot":
        raise ValueError(
            "metric 'dot' is supported on exact scans only; build the "
            "index with 'l2' or 'cosine'"
        )


def build_ann(
    spark: SparkSession,
    vectors: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
    id_col: str = "ext_id",
    vector_col: str = "vector",
    rows_per_segment: int | None = None,
) -> IndexCatalog:
    """Build the ANN sidecar tables (flat, ids and the default formats)
    from (id, array<float>) rows, committed in one transaction.

    The gate :func:`small_vectors` chooses the source's transport: it
    reads the caller's frame into the driver (at most
    ``ANN_DRIVER_MAX_VALUES`` vector values), where the flat flush
    (:func:`flat_rows`) and each default format's kernel run and every
    table is written by pyarrow — no Spark job beyond that read (none for
    a ``LocalRelation``); otherwise the same kernels run on Spark, the
    formats' over the staged flat rows."""
    cfg = cfg or IndexConfig()
    ann = cfg.ann
    _check_index_metric(ann.metric)
    cat = IndexCatalog(index_root)
    rps = rows_per_segment or cfg.rows_per_segment
    small = small_vectors(vectors, id_col, vector_col, ann)
    if small is None:
        validate_vectors(vectors, vector_col, id_col, ann)
        src = vectors.select(
            F.col(id_col).cast("long").alias("ext_id"),
            F.col(vector_col).alias("vector"),
        ).withColumn("segment_id", (F.col("ext_id") / F.lit(rps)).cast("long"))
    else:
        src = small.assign(segment_id=S.range_segments(small["ext_id"].to_numpy(), rps))
    flat, ids = flat_rows(src)
    with cat.transaction() as tx:
        tx.set_config(ann_config(ann, rps))
        tx.write(flat, "ann_flat")
        tx.mark_stage("ann_flat")

        def _w_ids():
            # thin row-level (segment_id, ext_id) map — the DataFrame-filter
            # tier's join target (and the merge policy's id→segment resolver)
            tx.write(ids, "ann_ids", sort_by=["segment_id", "ext_id"])
            tx.mark_stage("ann_ids")

        # the remaining tables are mutually independent (ids derives from
        # the input, the default formats from the staged flat — merge reads
        # flat only, M4); one flat read is shared by the pool (concurrent
        # first reads would each infer the parquet schema)
        flat_src = tx.read(spark, "ann_flat") if small is None else flat.to_pandas()
        _concurrently(_w_ids, *(
            (lambda f=f: _write_format(spark, tx, f, cfg, lambda t: flat_src))
            for f in FORMATS.values() if f.default
        ))
        _mark_bf_fallback(tx)
        tx.mark_stage("ann_build")
    return cat


# ---------------------------------------------------------------------------
# Search: acceptDocs (filters and tombstones)
# ---------------------------------------------------------------------------


def _sorted_ids(ids) -> np.ndarray | None:
    """Normalize a filter id collection to a sorted int64 array (or None)."""
    if ids is None:
        return None
    if isinstance(ids, np.ndarray):
        return np.sort(ids.astype(np.int64))
    return np.array(sorted(int(i) for i in ids), dtype=np.int64)


FILTER_BROADCAST_MAX = 200_000  # DataFrame filters above this resolve to
                                # per-segment packed blobs, never a driver set
FILTER_MODES = ("auto", "broadcast", "df")


def _check_choice(name: str, value: str, allowed: tuple) -> None:
    """Reject an unknown mode string instead of silently running a default."""
    if value not in allowed:
        raise ValueError(f"unknown {name} {value!r}; expected one of {allowed}")


def _filter_blobs(spark: SparkSession, cat: IndexCatalog, ids: DataFrame,
                  col: str = "allowed") -> DataFrame:
    """Per-segment packed blobs (sorted int64 ext_ids) of the indexed ids
    in ``ids``, resolved EXECUTOR-side through the thin ``ann_ids`` map —
    the large-set transport of both acceptDocs inputs, the bm25 large-filter
    tier (bm25._aux_df) applied to the ANN paths. ``ann_ids`` is the thin
    (segment_id, ext_id) map every build, epoch and merge writes beside
    flat — the row-level ord→doc table (S6), the role doc_map plays for
    the bm25 filter tier. ``allowed``: the query
    filter's bits derive from the index per leaf, never shipped from the
    caller (``GPUKnnFloatVectorQuery.java:43-51``). ``tomb``: deletes are
    leaf-local liveDocs bits, never a global driver array
    (``TestCuVSDeletedDocuments.java:83``). Segments with no such id
    produce no row (see :func:`_attach_aux` for how each joins)."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "segment_id": [int(pdf["segment_id"].iloc[0])],
                col: [np.sort(pdf["ext_id"].to_numpy(np.int64)).tobytes()],
            }
        )

    return (
        cat.read(spark, "ann_ids")
        .join(ids, "ext_id", "left_semi")
        .groupBy("segment_id")
        .applyInPandas(pack, f"segment_id long, {col} binary")
    )


def _resolve_filter(
    spark: SparkSession,
    cat: IndexCatalog,
    filter_ext_ids,
    filter_mode: str = "auto",
) -> tuple[np.ndarray | None, DataFrame | None]:
    """Two-tier filter resolution shared by every ANN search path →
    (sorted driver-side array | None, per-segment blob DataFrame | None).

    Small sets/arrays keep the closure fast path; a DataFrame filter stays
    a DataFrame above ``FILTER_BROADCAST_MAX`` ids (``filter_mode``:
    ``auto`` probes the size with one ``frames.head_arrow`` read of N+1
    ids, ``broadcast`` / ``df`` force a tier)."""
    _check_choice("filter_mode", filter_mode, FILTER_MODES)
    if filter_ext_ids is None:
        return None, None
    if not isinstance(filter_ext_ids, DataFrame):
        return _sorted_ids(filter_ext_ids), None
    # (a local_frame of ext_id long is read with no JVM call: not projected)
    fdf = (filter_ext_ids if filter_ext_ids.dtypes == [("ext_id", "bigint")]
           else filter_ext_ids.select(F.col(filter_ext_ids.columns[0]).cast("long")
                                      .alias("ext_id")))
    if filter_mode == "df":
        return None, _filter_blobs(spark, cat, fdf)
    # one Arrow read (a limit collect() scans partitions incrementally, a
    # job per round); ``broadcast`` is the forced closure tier: the caller
    # vouches the set fits the driver
    head = (fdf.toArrow() if filter_mode == "broadcast"
            else head_arrow(fdf, FILTER_BROADCAST_MAX + 1))
    head = head.column("ext_id").to_numpy()
    if head.size > FILTER_BROADCAST_MAX and filter_mode == "auto":
        return None, _filter_blobs(spark, cat, fdf)
    return np.sort(head.astype(np.int64)), None


def _blob(frame: pd.DataFrame, row, col: str) -> np.ndarray | None:
    """Per-segment sorted ids from a joined blob column (``allowed`` /
    ``tomb``) when that blob tier is active for this query, else None."""
    if col not in frame.columns or getattr(row, col) is None:
        return None
    return np.frombuffer(getattr(row, col), np.int64)


def _member_mask(ids: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Bool membership of ``ids`` in a sorted set (searchsorted, no hashing)."""
    if sorted_set.size == 0:
        return np.zeros(ids.size, dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_set, ids), sorted_set.size - 1)
    return sorted_set[pos] == ids


def _accept_mask(
    ids: np.ndarray,
    allowed: np.ndarray | None,
    tomb: np.ndarray | None,
) -> np.ndarray | None:
    """acceptDocs analogue: bool mask over ``ids`` combining the query
    pre-filter and the tombstone set; None when everything is accepted
    (``CuVS2510GPUVectorsReader.java:418-434`` applies acceptDocs inside
    EVERY reader's search — all formats, not just the exact path)."""
    m = None
    if allowed is not None:
        m = _member_mask(ids, allowed)
    if tomb is not None and tomb.size:
        t = ~_member_mask(ids, tomb)
        m = t if m is None else (m & t)
    return m


def _row_accept(frame: pd.DataFrame, row, ids: np.ndarray,
                allowed: np.ndarray | None, tomb: np.ndarray | None):
    """acceptDocs for one segment row under BOTH two-tier transports:
    closure arrays when small, per-segment packed blobs (``allowed`` /
    ``tomb`` columns joined onto the scan) when large."""
    return _accept_mask(
        ids,
        allowed if allowed is not None else _blob(frame, row, "allowed"),
        tomb if tomb is not None else _blob(frame, row, "tomb"),
    )


def _attach_aux(df: DataFrame, fblobs: DataFrame | None,
                tblobs: DataFrame | None) -> DataFrame:
    """Ride the per-segment aux blobs on a segment-keyed scan: the filter
    blob INNER-joins (a segment with no allowed id is pruned entirely);
    the tombstone blob LEFT-joins (a segment with no tombstones must still
    be scanned in full)."""
    if fblobs is not None:
        df = df.join(fblobs, "segment_id")
    if tblobs is not None:
        df = df.join(tblobs, "segment_id", "left")
    return df


@transactional
def delete_ann(
    spark: SparkSession,
    cat: IndexCatalog,
    ext_ids,
    cfg: IndexConfig | None = None,
    auto_merge: bool = True,
) -> int:
    """Tombstone vectors by ext_id — the liveDocs analogue for the ANN
    sidecar. Deleted ids are excluded by EVERY search mode at query time
    (exact, IVF, SQ, PQ, BQ, graph, kNN join) and physically removed at the
    next :func:`merge_ann` (M5). Returns the live tombstone count; the
    count rides the manifest so the no-deletes path costs zero jobs.

    ``ext_ids`` accepts a set / sequence of ids (small deletes) or a
    DataFrame of ids (parity with ``delete_docs``): a DataFrame delete is
    registered with ONE distributed union+distinct — no driver-side id
    array anywhere, the mass-delete shape for 10⁹-row retention sweeps.

    Envelope policy: once the tombstone count exceeds
    ``cfg.ann.delete_merge_fraction`` of the indexed vectors OR the
    absolute ``delete_merge_max_count`` (a fraction is not a size — at
    10¹¹ vectors a fraction alone would let the tombstone set grow
    unboundedly in bytes), a GROUP-WISE :func:`merge_ann` of only the
    AFFECTED segments fires automatically (resolved via the thin
    ``ann_ids`` map), physically dropping the deleted rows and clearing
    their tombstones — so the query-time tombstone set is provably
    bounded (Lucene's deletesPctAllowed merge pressure, applied
    per-segment). Both thresholds, and the segment size the merge
    rebuilds at, are read from the catalog's config (:func:`ann_config`:
    merge pressure is index state, not caller state). The tombstones and
    the merge they trigger commit in one transaction."""
    cfg = cfg or IndexConfig()
    if isinstance(ext_ids, DataFrame):
        # delete_docs parity: a named ext_id column is required unless the
        # frame is single-column — columns[0] of a (segment_id, ext_id)
        # slice would silently tombstone segment ids as ext ids
        if "ext_id" in ext_ids.columns:
            id_col = "ext_id"
        elif len(ext_ids.columns) == 1:
            id_col = ext_ids.columns[0]
        else:
            raise ValueError(
                "delete_ann: DataFrame input must have an 'ext_id' column "
                f"(or exactly one column); got {ext_ids.columns}"
            )
        new = ext_ids.select(
            F.col(id_col).cast("long").alias("ext_id")
        ).distinct()
    else:
        new = local_frame(spark, "ext_id long", sorted({int(i) for i in ext_ids}))
    if cat.exists("ann_tombstones"):
        new = cat.read(spark, "ann_tombstones").unionByName(new).distinct()
    new = new.cache()
    n = new.count()
    cat.write(new, "ann_tombstones", lineage={"n": n})
    new.unpersist()
    if auto_merge and n:
        pcfg = cat.read_manifest()["config"]
        frac = float(pcfg["delete_merge_fraction"])
        max_n = int(pcfg["delete_merge_max_count"])
        total = pc.sum(cat.read_arrow("ann_flat", ["n_vecs"])["n_vecs"]).as_py() or 0
        if total and (n > frac * total or n >= max_n):
            affected = sorted(
                int(r["segment_id"])
                for r in cat.read(spark, "ann_ids")
                .join(cat.read(spark, "ann_tombstones"), "ext_id", "left_semi")
                .select("segment_id").distinct().collect()
            )
            if affected:
                fanin = cfg.merge_fanin
                groups = [
                    affected[i : i + fanin] for i in range(0, len(affected), fanin)
                ]
                # a bare delete must not restructure the index
                merge_ann(spark, cat, cfg, groups=groups,
                          rows_per_segment=int(pcfg["rows_per_segment"]))
                n = int(cat.table_lineage("ann_tombstones").get("n", 0))
    return n


# ---------------------------------------------------------------------------
# Resident pack entries: the driver-side copy of a catalog's ANN tables
# ---------------------------------------------------------------------------

PACK_TABLES = ("ann_flat", *(f.table for f in FORMATS.values()))


def _resident_fits(cat: IndexCatalog) -> dict | None:
    """The manifest's tables when the catalog's ANN tables fit
    ``RESIDENT_MAX_BYTES``; None over it, and the resident tables are
    released (the centroid pack stays)."""
    tables = cat.read_manifest()["tables"]
    committed = [t for t in PACK_TABLES if (tables.get(t) or {}).get("snapshot")]
    if sum(R.disk_bytes(cat, t, tables) for t in committed) <= R.RESIDENT_MAX_BYTES:
        return tables
    R.pack(cat).drop(lambda n, v: n in PACK_TABLES and not (
        n == "ann_ivf" and v.lists is None))
    return None


def _frame_extender(cat: IndexCatalog, table: str, tables: dict, where=None):
    """A pack ``extend`` for an entry holding ``table``'s rows (``where``)
    in the manifest ``tables`` as one pandas frame: drop the dropped
    segments' rows, append the new directories' rows."""

    def extend(rows: pd.DataFrame, snaps: tuple, dropped: tuple):
        rows = rows[~rows["segment_id"].isin(dropped)]
        if not snaps:
            return rows.reset_index(drop=True), 0
        at = cat.read_arrow(table, where=where, tables=tables, appends=snaps)
        return pd.concat([rows, at.to_pandas()], ignore_index=True), at.nbytes

    return extend


class _Ivf(NamedTuple):
    """The pack's ``ann_ivf`` entry: the centroid rows and the centroid
    pack derived from them (the centroid rows' only driver copy) and,
    when resident, the list rows."""

    rows: pd.DataFrame
    cents: dict | None
    lists: pd.DataFrame | None


def _ivf_entry(cat: IndexCatalog, tables: dict | None = None) -> _Ivf:
    """The ``ann_ivf`` entry, with its list rows when the catalog is
    resident (``tables``: the manifest's tables :func:`_resident_fits`
    returned; without them, it is asked), so a resident catalog reads it
    once; else only the centroid rows (a pruned ``list_id = -1`` read)."""
    if tables is None:
        tables = _resident_fits(cat)
    full = tables is not None
    tables = tables or cat.read_manifest()["tables"]
    where = None if full else pc.field("list_id") == -1
    rows_of = _frame_extender(cat, "ann_ivf", tables, where)

    def entry(pdf: pd.DataFrame) -> _Ivf:
        c = pdf["list_id"].to_numpy() == -1
        crows = pdf[c].reset_index(drop=True)
        return _Ivf(crows, _centroids(crows), pdf[~c].reset_index(drop=True) if full else None)

    def fill():
        at = cat.read_arrow("ann_ivf", where=where, tables=tables)
        return entry(at.to_pandas()), at.nbytes

    def extend(v: _Ivf, snaps: tuple, dropped: tuple):
        old = v.rows if v.lists is None else pd.concat([v.rows, v.lists], ignore_index=True)
        pdf, nbytes = rows_of(old, snaps, dropped)
        return entry(pdf), nbytes

    return R.pack(cat).get("ann_ivf", R.entry_key(cat, "ann_ivf", tables), fill,
                           lambda v: v.lists is not None or not full, extend)


def _resident_rows(cat: IndexCatalog, table: str, tables: dict) -> pd.DataFrame:
    """Every row of ``table`` (``ann_ivf``: its list rows) in the manifest
    ``tables``, from the pack."""
    if table == "ann_ivf":
        return _ivf_entry(cat, tables).lists

    def fill():
        at = cat.read_arrow(table, tables=tables)
        return at.to_pandas(), at.nbytes

    return R.pack(cat).get(table, R.entry_key(cat, table, tables), fill,
                           extend=_frame_extender(cat, table, tables))


def _tombstone_array(cat: IndexCatalog, tables: dict) -> np.ndarray | None:
    """Sorted tombstoned ext_ids (None when empty), kept in the pack — the
    CLOSURE tier, used only when the registered count is at most
    ``FILTER_BROADCAST_MAX`` (``_resolve_tombstones`` routes bigger sets
    through per-segment blobs; this array never grows with them)."""

    def fill():
        at = cat.read_arrow("ann_tombstones", ["ext_id"], tables=tables)
        arr = np.sort(at.column(0).to_numpy().astype(np.int64))
        return (arr if arr.size else None), arr.nbytes

    return R.pack(cat).get("ann_tombstones", R.entry_key(cat, "ann_tombstones", tables), fill)


def _resolve_tombstones(
    spark: SparkSession, cat: IndexCatalog
) -> tuple[np.ndarray | None, DataFrame | None]:
    """Two-tier tombstone resolution shared by every ANN search path →
    (sorted closure array | None, per-segment blob DataFrame | None).
    The tier switch reads the count from the manifest lineage (no job):
    at most ``FILTER_BROADCAST_MAX`` registered deletes keep the memoized
    closure array; above it the set stays a DataFrame end-to-end."""
    tables = cat.read_manifest()["tables"]
    ent = tables.get("ann_tombstones") or {}
    n = (ent.get("lineage") or {}).get("n")
    if ent.get("snapshot") is None or n == 0:
        return None, None
    if n is not None and n > FILTER_BROADCAST_MAX:
        return None, _filter_blobs(
            spark, cat, cat.read(spark, "ann_tombstones"), "tomb"
        )
    return _tombstone_array(cat, tables), None


def _scores(x: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    # float64 throughout: float32 inputs, double math — bit-compatible with
    # the DuckDB oracle's DOUBLE[] arithmetic (scores rounded to 6 dp on
    # both sides for comparison).
    x64 = x.astype(np.float64)
    q64 = q.astype(np.float64)
    if metric == "l2":
        d = ((x64 - q64[None, :]) ** 2).sum(1)  # L2Expanded = squared L2
        return 1.0 / (1.0 + d)  # reference normalization (S5)
    if metric == "cosine":
        num = x64 @ q64
        den = np.linalg.norm(x64, axis=1) * np.linalg.norm(q64)
        den[den == 0] = 1.0
        return num / den
    if metric == "dot":
        return x64 @ q64
    raise ValueError(metric)


# ---------------------------------------------------------------------------
# Search kernels (numpy, one segment or IVF list at a time, Spark-free)
# ---------------------------------------------------------------------------


def _top_order(ids: np.ndarray, key: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` smallest ``key`` values, ties broken by the
    lower ext_id — ``lexsort((ids, key))[:k]``, after an O(n) partition
    to the k-th value (every tie at the cut survives it)."""
    cand = np.arange(key.size)
    if key.size > k:
        cand = np.flatnonzero(~(key > np.partition(key, k - 1)[k - 1]))
    return cand[np.lexsort((ids[cand], key[cand]))[:k]]


def _exact_topk(x: np.ndarray, ids: np.ndarray, q: np.ndarray, metric: str,
                k: int, accept: np.ndarray | None = None):
    """Exact top-k of one segment or list → (ext_ids, scores), best first:
    the accepted vectors scored under ``metric`` (S4)."""
    if accept is not None:
        x, ids = x[accept], ids[accept]
    s = _scores(x, q, metric)
    o = _top_order(ids, -s, k)
    return ids[o], s[o]


def _coarse_cut(ids: np.ndarray, approx: np.ndarray, m: int,
                accept: np.ndarray | None = None,
                budget: int | None = None) -> np.ndarray:
    """Positions of the ``m`` coarse-closest accepted vectors of one leaf,
    scoring at most ``budget`` of them (the first in ext_id order)."""
    ok = np.arange(ids.size) if accept is None else np.flatnonzero(accept)
    if budget is not None:
        ok = ok[:budget]
    return ok[_top_order(ids[ok], approx[ok], m)]


def _rerank_topk(x: np.ndarray, ids: np.ndarray, q: np.ndarray, metric: str,
                 k: int, approx: np.ndarray, m: int,
                 accept: np.ndarray | None = None, budget: int | None = None):
    """Coarse cut to ``m`` candidates, then their exact top-k from the raw
    vectors → (ext_ids, scores) (the quantized formats' rescoring, which
    Lucene's quantized readers delegate to the flat storage)."""
    cand = _coarse_cut(ids, approx, m, accept, budget)
    return _exact_topk(x[cand], ids[cand], q, metric, k)


def _norm_qb(qb: np.ndarray, metric: str) -> np.ndarray:
    """A float64 query bundle (Q, dim) in navigation space: cosine rows
    unit-normalized (centroids and lists live in unit space; cosine is
    scale-invariant in q, so the normalized bundle also scores exactly)."""
    if metric != "cosine":
        return qb
    nr = np.linalg.norm(qb, axis=1, keepdims=True)
    nr[nr == 0] = 1.0
    return qb / nr


def _rank_lists(qb: np.ndarray, cents: np.ndarray, npb: int) -> np.ndarray:
    """(Q, npb) ids of each query's ``npb`` closest lists of one segment."""
    d = -2.0 * qb @ cents.T + (cents**2).sum(1)[None, :]
    return np.argsort(d, axis=1, kind="stable")[:, :npb]


def _bundle_topk(x: np.ndarray, ids: np.ndarray, qids: np.ndarray, qs: np.ndarray,
                 metric: str, k: int, accept: np.ndarray | None = None):
    """Exact top-k of one list for every query of the bundle ``qs`` that
    probes it → (q_ids, vec_ids, scores), each query's best first."""
    if accept is not None and not accept.all():
        x, ids = x[accept], ids[accept]
    x64 = x.astype(np.float64)
    if metric == "l2":
        d = -2.0 * qs @ x64.T + (x64**2).sum(1)[None, :] + (qs**2).sum(1)[:, None]
        s = 1.0 / (1.0 + np.maximum(d, 0.0))  # (Q_here, n)
    elif metric == "cosine":
        num = qs @ x64.T
        den = np.linalg.norm(qs, axis=1)[:, None] * np.linalg.norm(x64, axis=1)[None, :]
        den[den == 0] = 1.0
        s = num / den
    else:
        s = qs @ x64.T
    m = min(k, ids.size)
    top = np.array([_top_order(ids, -s[i], m) for i in range(qids.size)], np.int64).ravel()
    rows = np.repeat(np.arange(qids.size), m)
    return qids[rows], ids[top], s[rows, top]


def _rank_joined(qids: np.ndarray, vids: np.ndarray, scores: np.ndarray, k: int):
    """Each query's top-k of the merged per-list candidates, ranked as
    ``row_number()`` over ``partitionBy(q_id).orderBy(score desc, vec_id
    asc)`` → (q_ids, vec_ids, scores, ranks), ordered by q_id then rank.
    Candidates of duplicate q_ids merge."""
    o = np.lexsort((vids, -scores, qids))
    qids, vids, scores = qids[o], vids[o], scores[o]
    starts = np.flatnonzero(np.r_[True, qids[1:] != qids[:-1]])
    rank = np.arange(qids.size) - np.repeat(starts, np.diff(np.r_[starts, qids.size])) + 1
    keep = rank <= k
    return qids[keep], vids[keep], scores[keep], rank[keep].astype(np.int32)


# ---------------------------------------------------------------------------
# Search driver
# ---------------------------------------------------------------------------


class _Query(NamedTuple):
    """The executor-side half of one search: raw and navigation-space
    query, metric, k, the closure tier of acceptDocs and the visit budget."""

    q: np.ndarray
    qn: np.ndarray
    metric: str
    k: int
    allowed: np.ndarray | None
    tomb: np.ndarray | None
    budget: int | None

    def accept(self, frame: pd.DataFrame, row, ids: np.ndarray) -> np.ndarray | None:
        return _row_accept(frame, row, ids, self.allowed, self.tomb)

    def vectors(self, row, ids: np.ndarray) -> np.ndarray:
        return np.frombuffer(row.vectors, np.float32).reshape(ids.size, self.q.size)


def _partial(seg, ids: np.ndarray, vals: np.ndarray, value: str = "score") -> pd.DataFrame:
    return pd.DataFrame(
        {"segment_id": np.full(ids.size, seg, np.int64), "ext_id": ids, value: vals}
    )


def _scan_exact(ctx: _Query):
    """``mapInPandas`` kernel: exact top-k of every flat segment or IVF
    list row."""

    def scan(it):
        for pdf in it:
            for r in pdf.itertuples(index=False):
                ids = np.frombuffer(r.ext_ids, np.int64)
                top, s = _exact_topk(
                    ctx.vectors(r, ids), ids, ctx.q, ctx.metric, ctx.k,
                    ctx.accept(pdf, r, ids),
                )
                if top.size:
                    yield _partial(r.segment_id, top, s)

    return scan


def _segment_kernel(ctx: _Query, segment, value: str):
    """``applyInPandas`` kernel of a format table cogrouped with flat, one
    segment per call. ``segment(rows, x, ids, accept)`` is the format's
    per-leaf search → (ext_ids, values), or None when the leaf has no
    format row (oversized for the graph) — then the exact scan keeps it
    reachable (B2). Format rows of a segment a filter blob pruned from
    flat have no flat row and are skipped."""
    dtype = np.float64 if value == "score" else np.int32

    def scan(key, rows: pd.DataFrame, fp: pd.DataFrame) -> pd.DataFrame:
        out = None
        if not fp.empty:
            fr = next(fp.itertuples(index=False))
            ids = np.frombuffer(fr.ext_ids, np.int64)
            x = ctx.vectors(fr, ids) if "vectors" in fp.columns else None
            accept = ctx.accept(fp, fr, ids)
            out = segment(rows, x, ids, accept)
            if out is None and x is not None:  # (BQ's id-only projection has no x)
                out = _exact_topk(x, ids, ctx.q, ctx.metric, ctx.k, accept)
        if out is None:
            return _partial(0, np.empty(0, np.int64), np.empty(0, dtype), value)
        return _partial(fr.segment_id, out[0], out[1].astype(dtype), value)

    return scan


class _Plan:
    """The plan pieces one single-query search is written in (see
    :func:`_search`). Two tiers implement them: :class:`_Search` builds a
    Spark plan over the committed tables, :class:`_Resident` runs the same
    kernels over the pack's frames in the driver."""

    def coarse(self, fmt: AnnFormat, rerank_factor: int | None,
               flat_cols: tuple = ()):
        """Coarse cut over ``fmt``'s codes, cogrouped with flat. With a
        rerank factor, the ``k · factor`` coarse-best per leaf are
        rescored exactly; without one, the coarse distances are the
        result (BQ's Hamming search)."""
        ctx, coarse = self.ctx, fmt.coarse
        m = ctx.k * max(1, rerank_factor or 1)

        def segment(rows, x, ids, accept):
            row = next(rows.itertuples(index=False), None)
            if row is None:
                return None
            approx = coarse(row, ctx)
            if rerank_factor is None:
                cut = _coarse_cut(ids, approx, m, accept, ctx.budget)
                return ids[cut], approx[cut]
            return _rerank_topk(
                x, ids, ctx.q, ctx.metric, ctx.k, approx, m, accept, ctx.budget
            )

        value = "score" if rerank_factor is not None else "hamming"
        return self.cogroup(self.table(fmt.table), segment, value, flat_cols)


class _Search(_Plan):
    """The Spark tier: the plan pieces as DataFrames over the committed
    tables, with the acceptDocs blobs (if any) riding the scans."""

    def __init__(self, spark, cat, ctx: _Query, fblobs, tblobs):
        self.spark, self.cat, self.ctx = spark, cat, ctx
        self.fblobs, self.tblobs = fblobs, tblobs

    def table(self, name: str, *cols: str) -> DataFrame:
        df = self.cat.read(self.spark, name)
        return df.select(*cols) if cols else df

    def aux(self, df: DataFrame) -> DataFrame:
        """Ride the per-segment acceptDocs blobs (if any) on a scan."""
        return _attach_aux(df, self.fblobs, self.tblobs)

    def flat(self, *cols: str) -> DataFrame:
        return self.aux(self.table("ann_flat", *cols))

    def exact(self, rows: DataFrame) -> DataFrame:
        """Exact per-row top-k partials of flat or IVF list rows."""
        return rows.mapInPandas(_scan_exact(self.ctx), TOPK_SCHEMA)

    def with_fallback(self, partials: DataFrame) -> DataFrame:
        """``partials`` plus the exact scan of the segments that have no
        IVF index (B2, :func:`_listed_bf_segments`)."""
        segs = _listed_bf_segments(self.cat)
        if not segs:
            return partials
        bf = self.flat().filter(F.col("segment_id").isin(segs))
        return partials.unionByName(self.exact(bf))

    def cogroup(self, fmt_rows: DataFrame, segment, value: str = "score",
                flat_cols: tuple = ()) -> DataFrame:
        """One cogroup of per-segment format rows with flat, running
        ``segment`` per leaf (see :func:`_segment_kernel`)."""
        dtype = "double" if value == "score" else "int"
        return (
            fmt_rows.groupby("segment_id")
            .cogroup(self.flat(*flat_cols).groupby("segment_id"))
            .applyInPandas(
                _segment_kernel(self.ctx, segment, value),
                f"segment_id long, ext_id long, {value} {dtype}",
            )
        )

    def probe(self, table: str, nprobe: int | None, probe_mode: str) -> DataFrame | None:
        """The list rows of ``table`` the query probes (None: no IVF index)."""
        return _probe_select(
            self.spark, self.cat, self.table(table).filter(F.col("list_id") >= 0),
            self.ctx.qn, nprobe, probe_mode,
        )

    def join(self, left: DataFrame, right: DataFrame, on: str) -> DataFrame:
        return left.join(right, on)

    def map(self, rows: DataFrame, fn, schema: str) -> DataFrame:
        return rows.mapInPandas(fn, schema)

    def top(self, partials: DataFrame, value: str = "score") -> DataFrame:
        """Global top-k of the per-segment partials (same tie rule)."""
        order = F.desc(value) if value == "score" else F.asc(value)
        return (
            partials.orderBy(order, F.asc("ext_id"))
            .limit(self.ctx.k)
            .select("ext_id", value)
        )


class _SparkTier(Exception):
    """Raised by :class:`_Resident` when the query must take the Spark tier."""


class _Resident(_Plan):
    """The resident tier: the plan pieces over the pack's pandas frames,
    run in the driver through the same kernel bodies the Spark tier ships
    (``_scan_exact``, ``_segment_kernel``), so scores are bit-identical; the
    top-k is one ``LocalRelation``. ``tables``: the manifest's tables
    every pack entry is read and keyed from. Raises :class:`_SparkTier`
    for a probe that must leave the driver."""

    def __init__(self, spark, cat, ctx: _Query, tables: dict):
        self.spark, self.cat, self.ctx, self.tables = spark, cat, ctx, tables

    def table(self, name: str, *cols: str) -> pd.DataFrame:
        rows = _resident_rows(self.cat, name, self.tables)
        return rows[list(cols)] if cols else rows

    def aux(self, rows: pd.DataFrame) -> pd.DataFrame:
        return rows

    def flat(self, *cols: str) -> pd.DataFrame:
        return self.table("ann_flat", *cols)

    def exact(self, rows: pd.DataFrame) -> pd.DataFrame:
        return _frame(_scan_exact(self.ctx)(iter([rows])), TOPK_SCHEMA)

    def with_fallback(self, partials: pd.DataFrame) -> pd.DataFrame:
        segs = _listed_bf_segments(self.cat)
        if not segs:
            return partials
        flat = self.flat()
        bf = self.exact(flat[flat["segment_id"].isin(segs)])
        return pd.concat([partials, bf], ignore_index=True)

    def cogroup(self, fmt_rows: pd.DataFrame, segment, value: str = "score",
                flat_cols: tuple = ()) -> pd.DataFrame:
        kernel = _segment_kernel(self.ctx, segment, value)
        flat = self.flat(*flat_cols)
        pos = fmt_rows.groupby("segment_id").indices
        none = fmt_rows.iloc[:0]
        dtype = "double" if value == "score" else "int"
        return _frame(
            (kernel((s,), fmt_rows.iloc[pos[s]] if s in pos else none, flat.iloc[[i]])
             for i, s in enumerate(flat["segment_id"].tolist())),
            f"segment_id long, ext_id long, {value} {dtype}",
        )

    def probe(self, table: str, nprobe: int | None, probe_mode: str) -> pd.DataFrame | None:
        if _probe_distributed(self.cat, probe_mode):
            raise _SparkTier("probe")
        rows = self.table(table)
        pack = _centroid_pack(self.cat, self.tables)
        if pack is None:
            return None
        want = pd.MultiIndex.from_arrays(_probe_pairs(pack, self.ctx.qn, nprobe))
        have = pd.MultiIndex.from_arrays([rows["segment_id"], rows["list_id"]])
        return rows[have.isin(want)]

    def join(self, left: pd.DataFrame, right: pd.DataFrame, on: str) -> pd.DataFrame:
        return left.merge(right, on=on)

    def map(self, rows: pd.DataFrame, fn, schema: str) -> pd.DataFrame:
        return _frame(fn(iter([rows])), schema)

    def top(self, partials: pd.DataFrame, value: str = "score") -> DataFrame:
        ids = partials["ext_id"].to_numpy(np.int64)
        vals = partials[value].to_numpy()
        o = _top_order(ids, -vals if value == "score" else vals, self.ctx.k)
        return _topk_frame(self.spark, value, ids[o], vals[o])


def _topk_frame(spark: SparkSession, value: str, *cols) -> DataFrame:
    """A search result (ext_id, ``value``) as a LocalRelation."""
    dtype = "double" if value == "score" else "int"
    return local_frame(spark, f"ext_id long, {value} {dtype}", *cols)


def _search(
    spark: SparkSession,
    cat: IndexCatalog,
    query,
    k: int,
    filter_ext_ids,
    filter_mode: str,
    plan: Callable[[_Plan], DataFrame],
    visited_limit: int | None = None,
    metric: str | None = None,
    value: str = "score",
) -> DataFrame:
    """The single-query search driver every ANN format runs under.

    Resolves the query once: the metric (the index's build metric unless
    the caller's exact scan names one), the raw and navigation-space
    query, the acceptDocs PRE-filter (``filter_ext_ids`` and the
    tombstones, two-tier: closure arrays when small, per-segment blobs
    joined onto the scans when large), and the per-leaf visit budget.
    ``k <= 0`` returns the empty frame (S9). ``plan`` then builds the
    format's per-segment partials from the :class:`_Plan` pieces and
    returns their global top-k → (ext_id, ``value``).

    Two tiers run ``plan``. The resident tier (:class:`_Resident`) runs it
    in the driver over the catalog's pack — each table read once, on its
    first use — and returns a ``LocalRelation``: a warm query runs no Spark
    job. It serves every query while the ANN tables' committed bytes fit
    ``RESIDENT_MAX_BYTES``, except that the Spark tier (:class:`_Search`,
    one Spark plan over the tables) is taken when

    - the filter or the tombstones resolve to per-segment blobs (more than
      ``FILTER_BROADCAST_MAX`` ids);
    - the IVF probe leaves the driver (``probe_mode`` ``distributed`` or
      ``shuffle``, or ``auto`` above ``PROBE_DRIVER_MAX_SEGMENTS``).

    Every ANN write commits all its tables in one transaction, so each
    table the plan reads covers the segments flat holds.

    Both tiers run the same kernels under the same tie rule, so they
    return the same (ext_id, score) lists bit for bit."""
    metric = metric or _index_metric(cat)
    q = np.asarray(query, dtype=np.float32)
    if k <= 0:
        return _topk_frame(spark, value)
    allowed, fblobs = _resolve_filter(spark, cat, filter_ext_ids, filter_mode)
    tomb, tblobs = _resolve_tombstones(spark, cat)
    budget = None if visited_limit is None else max(1, int(visited_limit))
    ctx = _Query(q, _nav_query(q, metric), metric, k, allowed, tomb, budget)
    if fblobs is None and tblobs is None and (tables := _resident_fits(cat)) is not None:
        try:
            return plan(_Resident(spark, cat, ctx, tables))
        except _SparkTier:
            pass
    return plan(_Search(spark, cat, ctx, fblobs, tblobs))


def _listed_bf_segments(cat: IndexCatalog) -> list[int]:
    """The B2 list every build, epoch and merge records
    (:func:`_mark_bf_fallback`): the segments with no IVF index, hence no
    IVF-PQ lists either."""
    return [int(s) for s in cat.read_manifest()["stages"]["ann_ivf"]["bf_fallback_segments"]]


# ---------------------------------------------------------------------------
# IVF probe
# ---------------------------------------------------------------------------

PROBE_DRIVER_MAX_SEGMENTS = 4096  # above this, probe ranking leaves the driver
PROBE_MODES = ("auto", "driver", "distributed", "shuffle")


def _default_nprobe(r, dim: int) -> int:
    """The reference n_probes heuristic for one centroid row: ``n`` lists,
    ``ext_ids`` carrying the segment's vector count."""
    n_lists = int(r.n)
    n_total = int(np.frombuffer(r.ext_ids, np.int64)[0])
    return max(1, min(n_lists, ivf_pq_params(n_total, dim)["n_probes"]))


def _probe_distributed(cat: IndexCatalog, probe_mode: str) -> bool:
    """Whether probe ranking leaves the driver (see :func:`ann_topk`).
    Single-query search has no query side to fragment, so ``shuffle``
    (the knn_join_ivf tier) degrades to the distributed probe, which
    already holds zero driver state ∝ segment count; treating it as
    ``driver`` would be the memory profile the caller opted out of."""
    _check_choice("probe_mode", probe_mode, PROBE_MODES)
    return probe_mode in ("distributed", "shuffle") or (
        probe_mode == "auto" and _many_segments(cat))


def _many_segments(cat: IndexCatalog) -> bool:
    """Whether more than ``PROBE_DRIVER_MAX_SEGMENTS`` segments have an IVF
    index (the count :func:`_mark_bf_fallback` records): ``auto``'s switch
    off the driver probe."""
    return cat.read_manifest()["stages"]["ann_ivf"]["n_ivf_segments"] > PROBE_DRIVER_MAX_SEGMENTS


def _probe_pairs(pack: dict, qn: np.ndarray, nprobe: int | None) -> tuple[np.ndarray, np.ndarray]:
    """The (segment_id, list_id) pairs one query probes, ranked in ONE
    vectorized pass over the centroid pack — no per-segment Python loop."""
    cd = ((pack["C"].astype(np.float64) - qn.astype(np.float64)[None, :]) ** 2).sum(1)
    npb_row = (
        np.minimum(pack["n_lists_row"], int(nprobe))
        if nprobe else pack["npb_row"]
    )
    o = np.lexsort((cd, pack["seg_row"]))
    seg_s = pack["seg_row"][o]
    starts = np.r_[0, np.flatnonzero(seg_s[1:] != seg_s[:-1]) + 1]
    counts = np.diff(np.r_[starts, seg_s.size])
    grp = np.repeat(np.arange(starts.size), counts)
    rank = np.arange(seg_s.size) - starts[grp]
    keep = rank < npb_row[o]
    return seg_s[keep], pack["lst_row"][o][keep]


def _probe_select(
    spark: SparkSession,
    cat: IndexCatalog,
    scan_df: DataFrame,
    qn: np.ndarray,
    nprobe: int | None = None,
    probe_mode: str = "auto",
) -> DataFrame | None:
    """Restrict ``scan_df`` (rows keyed by (segment_id, list_id) — raw IVF
    lists or IVF-PQ code lists) to the single-query probe's chosen lists.
    Probe ranking follows ``probe_mode`` (see :func:`ann_topk`): ``driver``
    ranks one memoized centroid pack vectorized; ``distributed`` ranks in
    a ``mapInPandas`` beside the pruned ``list_id = -1`` centroid scan
    (zero driver state ∝ segment count); ``auto`` switches on
    ``PROBE_DRIVER_MAX_SEGMENTS``. Returns None when no segment has an
    IVF index (caller falls back to brute force)."""
    dim = int(qn.size)
    if _probe_distributed(cat, probe_mode):

        def probe(it):
            for pdf in it:
                for r in pdf.itertuples(index=False):
                    cents = np.frombuffer(r.vectors, np.float32).reshape(int(r.n), dim)
                    cd = (
                        (cents.astype(np.float64) - qn.astype(np.float64)[None, :]) ** 2
                    ).sum(1)
                    take = np.argsort(cd, kind="stable")[: nprobe or _default_nprobe(r, dim)]
                    yield pd.DataFrame(
                        {"segment_id": r.segment_id,
                         "list_id": take.astype(np.int32)}
                    )

        pairs_df = (
            cat.read(spark, "ann_ivf")
            .filter(F.col("list_id") == -1)
            .select("segment_id", "n", "ext_ids", "vectors")
            .mapInPandas(probe, "segment_id long, list_id int")
        )
        return scan_df.join(pairs_df, ["segment_id", "list_id"], "left_semi")
    pack = _centroid_pack(cat)
    if pack is None:
        return None
    segs_keep, lists_keep = _probe_pairs(pack, qn, nprobe)
    probe_lists = sorted(set(int(x) for x in lists_keep))
    pairs_df = local_frame(spark, "segment_id long, list_id int", segs_keep, lists_keep)
    # pushed list_id IN (...) prunes row groups at the scan; the broadcast
    # semi-join restricts to the exact pairs
    return scan_df.filter(F.col("list_id").isin(probe_lists)).join(
        F.broadcast(pairs_df), ["segment_id", "list_id"], "left_semi"
    )


def _centroids(rows: pd.DataFrame) -> dict | None:
    """Flat numpy pack of the centroid rows (``list_id = -1``): C (ΣL,
    dim) float32 and row-aligned seg_row / lst_row / n_lists_row / npb_row
    (default n_probes per the reference heuristic); each segment's rows
    are contiguous, starting at ``lst_row == 0``. None when no segment
    has an IVF index."""
    rows = list(rows.itertuples(index=False))
    if not rows:
        return None
    mats = [np.frombuffer(r.vectors, np.float32).reshape(int(r.n), -1) for r in rows]
    n_lists = np.array([int(r.n) for r in rows])
    return {
        "C": np.concatenate(mats),
        "seg_row": np.repeat([int(r.segment_id) for r in rows], n_lists).astype(np.int64),
        "lst_row": np.concatenate([np.arange(n, dtype=np.int32) for n in n_lists]),
        "n_lists_row": np.repeat(n_lists, n_lists).astype(np.int32),
        "npb_row": np.repeat(
            [_default_nprobe(r, c.shape[1]) for r, c in zip(rows, mats)], n_lists
        ).astype(np.int32),
    }


def _centroid_pack(cat: IndexCatalog, tables: dict | None = None) -> dict | None:
    """Every segment's centroids (see :func:`_centroids`) — a view of the
    pack's ``ann_ivf`` entry (see :func:`_ivf_entry`), the ONE driver-side
    centroid state, shared by the single-query probe and
    :func:`knn_join_ivf`'s driver tier (budget: one pack ∝ total
    centroids)."""
    return _ivf_entry(cat, tables).cents


def _validate_metric(cat: IndexCatalog, metric: str) -> None:
    built = _index_metric(cat)
    if metric != built:
        raise ValueError(
            f"query metric {metric!r} does not match index build metric "
            f"{built!r} (similarity-function mismatch, "
            "CuVS2510GPUVectorsReader.java:247-255)"
        )


# ---------------------------------------------------------------------------
# Public searches: one thin wrapper per format
# ---------------------------------------------------------------------------

ANN_MODES = ("auto", "exact", "ivf")


def ann_topk(
    spark: SparkSession,
    cat: IndexCatalog,
    query: list[float] | np.ndarray,
    k: int = 10,
    metric: str | None = None,
    cfg: IndexConfig | None = None,
    mode: str = "auto",
    nprobe: int | None = None,
    filter_ext_ids=None,
    probe_mode: str = "auto",
    filter_mode: str = "auto",
) -> DataFrame:
    """Top-k nearest vectors → DataFrame(ext_id, score), score desc.

    ``mode``: ``exact`` (brute force over flat, S4 — any ``metric``),
    ``ivf`` (coarse probe, S3 — the index's build metric), or ``auto``
    (S1 routing: IVF when available and k ≤ max_k_ann). ``metric``
    defaults to the index's build metric, as in every other search entry
    point. Filters,
    tombstones and the B2 fallback follow the driver contract
    (:func:`_search`).

    IVF probing on the Spark tier is two small jobs, not one full-table
    pass: (1) rank lists per segment from the centroid rows only
    (``list_id = -1`` — pushed to the parquet scan, the list rows' blobs
    are never read); (2) scan ``ann_ivf`` restricted to the probed
    (segment_id, list_id) pairs, scoring each selected list row
    independently (no shuffle). ``probe_mode`` picks where step (1) ranks
    lists:

    - ``driver`` — centroid rows are read ONCE (kept in the catalog's
      pack until ``ann_ivf`` changes) into a flat numpy pack; per query the
      ranking is ONE
      vectorized pass over the concatenated centroid matrix (no Python
      loop over segments), and the probed pairs reach the list scan as a
      pushed ``list_id IN`` filter + broadcast semi-join. Latency-optimal;
      driver memory ∝ total centroids.
    - ``distributed`` — the ranking runs inside a ``mapInPandas`` over the
      pruned centroid scan and the pairs join the list rows as a
      left-semi (AQE picks broadcast vs shuffled hash by pair count). NO
      driver-side state grows with segment count — the 10⁶-segment path.
    - ``auto`` — ``driver`` while the build-time segment count is at most
      ``PROBE_DRIVER_MAX_SEGMENTS``, else ``distributed``.

    Tiers (every single-query search, see :func:`_search`): on the
    resident tier the result is computed at call time and returned as a
    local frame, so a commit made before it is collected does not change
    it; a Spark-tier result is a lazy plan read when it is collected.
    """
    cfg = cfg or IndexConfig()
    _check_choice("mode", mode, ANN_MODES)
    use_ivf = mode == "ivf" or (
        mode == "auto" and k <= cfg.ann.max_k_ann and cat.exists("ann_ivf")
    )

    def plan(s: _Plan) -> DataFrame:
        lists = None
        if use_ivf:
            # similarity-function mismatch guard for derived structures
            # (CuVS2510GPUVectorsReader.java:247-255): IVF lists are
            # clustered under the build metric (the default)
            if metric is not None:
                _validate_metric(cat, metric)
            if cat.exists("ann_ivf"):
                lists = s.probe("ann_ivf", nprobe, probe_mode)
        if lists is None:
            return s.top(s.exact(s.flat()))
        # blob tiers ride the list rows (filter inner-joins — segments with
        # zero allowed ids are pruned before scoring; tombstones left-join)
        return s.top(s.with_fallback(s.exact(s.aux(lists))))

    return _search(spark, cat, query, k, filter_ext_ids, filter_mode, plan, metric=metric)


def ann_topk_sq(
    spark: SparkSession,
    cat: IndexCatalog,
    query: list[float] | np.ndarray,
    k: int = 10,
    cfg: IndexConfig | None = None,
    rerank_factor: int = 3,
    filter_ext_ids=None,
    visited_limit: int | None = None,
    filter_mode: str = "auto",
) -> DataFrame:
    """Scalar-quantized search (B10/B11 read side,
    ``LuceneAcceleratedHNSWScalarQuantizedVectorsWriter.java:149-159``):
    the coarse cut scores the dequantized 7-bit codes, and ``k ·
    rerank_factor`` candidates per segment are rescored exactly from flat
    in the same cogrouped pass → (ext_id, score), exact scores under the
    index metric. Approximate overall (a true neighbor can fall outside
    the coarse cut), validated by containment like
    ``TestQuantizedVectorsFormats.java:38-66``."""
    return _search(
        spark, cat, query, k, filter_ext_ids, filter_mode,
        lambda s: s.top(s.coarse(FORMATS["sq"], rerank_factor)),
        visited_limit=visited_limit,
    )


def ann_topk_bq(
    spark: SparkSession,
    cat: IndexCatalog,
    query: list[float] | np.ndarray,
    k: int = 10,
    cfg: IndexConfig | None = None,
    filter_ext_ids=None,
    rerank_factor: int | None = None,
    visited_limit: int | None = None,
    filter_mode: str = "auto",
) -> DataFrame:
    """Binary-quantized search by Hamming distance over the sign-bit codes.

    ``rerank_factor=None`` (default): pure compressed-domain search →
    (ext_id, hamming), the fully-SQL-oracled path. With an int: the
    ``k · rerank_factor`` Hamming-closest per segment are rescored exactly
    from flat under the index metric → (ext_id, score) (Lucene's
    quantized readers delegate rescoring to the flat storage).
    Approximate, containment-validated (TestQuantizedVectorsFormats)."""
    value = "score" if rerank_factor is not None else "hamming"

    # the pure-Hamming search reads only the flat ids (the fat vector
    # blobs are never read)
    cols = ("segment_id", "n_vecs", "ext_ids")
    if rerank_factor is not None:
        cols += ("vectors",)

    return _search(
        spark, cat, query, k, filter_ext_ids, filter_mode,
        lambda s: s.top(s.coarse(FORMATS["bq"], rerank_factor, cols), value),
        visited_limit=visited_limit, value=value,
    )


def ann_topk_pq(
    spark: SparkSession,
    cat: IndexCatalog,
    query: list[float] | np.ndarray,
    k: int = 10,
    cfg: IndexConfig | None = None,
    rerank_factor: int = 3,
    filter_ext_ids=None,
    visited_limit: int | None = None,
    filter_mode: str = "auto",
) -> DataFrame:
    """PQ ADC search: per segment, one (pq_dim × 2^bits) query lookup
    table scores all codes; the coarse top ``k · rerank_factor`` are
    rescored exactly from flat in the same cogrouped pass → (ext_id,
    score), exact under the index's build metric (codebooks live in
    navigation space, rerank reads raw flat). Approximate →
    containment-validated."""
    return _search(
        spark, cat, query, k, filter_ext_ids, filter_mode,
        lambda s: s.top(s.coarse(FORMATS["pq"], rerank_factor)),
        visited_limit=visited_limit,
    )


def ann_topk_ivfpq(
    spark: SparkSession,
    cat: IndexCatalog,
    query: list[float] | np.ndarray,
    k: int = 10,
    cfg: IndexConfig | None = None,
    nprobe: int | None = None,
    rerank_factor: int = 3,
    filter_ext_ids=None,
    visited_limit: int | None = None,
    filter_mode: str = "auto",
    probe_mode: str = "auto",
) -> DataFrame:
    """IVF-PQ search — probe ``nprobe`` lists per segment (same probe
    modes as :func:`ann_topk`), ADC-score ONLY the probed lists' pq codes,
    take ``k · rerank_factor`` coarse candidates per list (``visited_limit``
    caps the ADC-scored vectors per list), rescore them EXACTLY from flat
    in a per-segment cogroup → global top-k. This is the cuVS IVF_PQ
    search contract (coarse ADC + refinement), and the IO shape that
    survives 100 TB: probed bytes are ``nprobe · list_len · pq_dim`` vs
    the raw path's ``nprobe · list_len · 4·dim``. Approximate (probe +
    ADC recall), containment-validated; scores are exact."""

    def plan(s: _Plan) -> DataFrame:
        ctx = s.ctx
        m = ctx.k * max(1, rerank_factor)
        lists = s.probe("ann_ivfpq", nprobe, probe_mode)
        if lists is None:  # no segment has an IVF index: brute force
            return s.top(s.exact(s.flat()))

        def adc(it):
            for pdf in it:
                for r in pdf.itertuples(index=False):
                    ids = np.frombuffer(r.ext_ids, np.int64)
                    cut = _coarse_cut(
                        ids, _adc_coarse(r, ctx), m,
                        ctx.accept(pdf, r, ids), ctx.budget,
                    )
                    if cut.size:
                        yield pd.DataFrame({"segment_id": r.segment_id, "ext_id": ids[cut]})

        def rerank(rows, x, ids, accept):
            want = np.unique(rows["ext_id"].to_numpy(np.int64))
            return _exact_topk(x, ids, ctx.q, ctx.metric, ctx.k, _member_mask(ids, want))

        # per-segment codebook meta rides the probed list rows (small: one
        # codebook per segment, dim·2^bits floats)
        meta = s.table("ann_pq", "segment_id", "dim", "pq_dim", "pq_bits", "codebook")
        cands = s.map(s.aux(s.join(lists, meta, "segment_id")), adc,
                      "segment_id long, ext_id long")
        return s.top(s.with_fallback(s.cogroup(cands, rerank)))

    return _search(
        spark, cat, query, k, filter_ext_ids, filter_mode, plan,
        visited_limit=visited_limit,
    )


def build_ann_pq(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: IndexConfig | None = None,
) -> None:
    """Product-quantization codes — the structure the reference's derived
    IVF-PQ parameters describe (``CagraIndexParamsFactory.java:31-93``:
    pqDim bucketed by dim, pqBits 8 for dim≤32 else 4; consumed on the GPU
    inside cuVS, re-expressed here as explicit per-segment codebooks).

    Per segment (from the committed flat storage, M4): the vector space is
    split into ``pq_dim`` contiguous subspaces; each subspace gets its own
    deterministic k-means codebook of 2^pq_bits centroids; every vector is
    stored as pq_dim uint8 centroid ids (:func:`_pq_rows`; in the driver
    while ``ann_flat`` fits ``ANN_DRIVER_MAX_VALUES``, see
    :func:`_write_format`). Search (:func:`ann_topk_pq`) is the classic
    ADC scan."""
    _write_format(spark, cat, FORMATS["pq"], cfg or IndexConfig())


@transactional
def build_ann_ivfpq(
    spark: SparkSession, cat: IndexCatalog, cfg: IndexConfig | None = None
) -> None:
    """Build the combined IVF-PQ lists (probed, compressed — see
    :func:`_ivfpq_rows`). Requires the PQ codebooks; builds them first if
    absent, in the same transaction. Centroid rows are shared with
    ``ann_ivf`` (one coarse quantizer per segment, two list payloads)."""
    cfg = cfg or IndexConfig()
    if not cat.exists("ann_pq"):
        build_ann_pq(spark, cat, cfg)
    _write_format(spark, cat, FORMATS["ivfpq"], cfg)


def build_ann_fields(
    spark: SparkSession,
    df: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
    id_col: str = "ext_id",
    fields: dict[str, str] | list[str] | None = None,
    rows_per_segment: int | None = None,
) -> IndexCatalog:
    """Multi-vector-field build — the reference indexes several
    ``KnnFloatVectorField``s per document with one writer per field
    (``CuVS2510GPUVectorsWriter.java:69`` per-field writer list, exercised
    by ``TestCuVSVectorsFormat.java:82-119``). Spark-first restatement:
    one ANN sidecar catalog per field under ``root/field=<name>``, each
    built by the same flush kernel in its own transaction; once every
    field is built, a parent manifest records the field list and
    per-field metric in one more.

    ``fields``: list of vector column names, or {column: metric} for
    per-field similarity functions. Rows where a field is NULL are skipped
    for that field only (the ``DocsWithFieldSet`` gap semantics,
    ``TestCuVSGaps.java:83-94``)."""
    import dataclasses
    import os

    cfg = cfg or IndexConfig()
    if fields is None:
        raise ValueError("fields is required")
    metric_of = (
        dict(fields) if isinstance(fields, dict) else {f: cfg.ann.metric for f in fields}
    )
    cat = IndexCatalog(index_root)
    for name, metric in metric_of.items():
        fcfg = dataclasses.replace(cfg, ann=dataclasses.replace(cfg.ann, metric=metric))
        sub_root = os.path.join(index_root, f"field={name}")
        build_ann(
            spark,
            df.filter(F.col(name).isNotNull()).select(id_col, name),
            sub_root,
            fcfg,
            id_col=id_col,
            vector_col=name,
            rows_per_segment=rows_per_segment,
        )
    with cat.transaction() as tx:
        tx.set_config({"ann_fields": metric_of, "ann_format": ANN_FORMAT_VERSION})
        tx.mark_stage("ann_build_fields")
    return cat


def field_catalog(cat: IndexCatalog, field: str) -> IndexCatalog:
    """Resolve the per-field sub-catalog of a multi-field ANN index."""
    import os

    fields = cat.read_manifest()["config"].get("ann_fields", {})
    if field not in fields:
        raise ValueError(f"unknown vector field {field!r}; have {sorted(fields)}")
    return IndexCatalog(os.path.join(cat.root, f"field={field}"))


def ann_topk_field(
    spark: SparkSession,
    cat: IndexCatalog,
    field: str,
    query: list[float] | np.ndarray,
    **kwargs,
) -> DataFrame:
    """Per-field search over a multi-field index (the reader resolves the
    field entry first — ``CuVS2510GPUVectorsReader.java:401-410``)."""
    return ann_topk(spark, field_catalog(cat, field), query, **kwargs)


ANN_MERGE_BASE = 1 << 42  # merged-ann segment namespace: base + (gen << 32)
                          # + seq — disjoint from build ids (ext_id // rps)
                          # and streaming epoch ids ([2^41, ~2^42)); ids are
                          # never reused (merged-away segments drop logically)


def _literal_map(m: dict[int, int]):
    """A long → long map literal: looks values up by key inside the plan,
    with no join and no job."""
    return F.create_map(*[F.lit(v).cast("long") for kv in m.items() for v in kv])


@transactional
def merge_ann(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: IndexConfig | None = None,
    tombstone_ext_ids: set[int] | None = None,
    rows_per_segment: int | None = None,
    groups: list[list[int]] | None = None,
) -> dict[int, list[int]]:
    """GROUP-WISE incremental ANN merge: read ONLY the merging segments'
    flat blobs (never the derived indexes — M4), drop tombstoned ids (M5),
    rebuild the derived structures for the NEW segments only, and commit as
    one tagged append + logical drop of the merged-away segment ids (the
    segdata scheme of ``merge_segments``). Untouched segments are never
    read or rewritten — merge cost ∝ merged segments, exactly the
    reference's ``mergeOneField`` scope (``CuVS2510GPUVectorsWriter.java:
    479-497``: MergedVectorValues spans just the MergeState's readers,
    rebuild via the flush path = M2 merge-as-rebuild, per group).

    ``groups``: lists of ANN segment ids to merge (one output id range per
    group); default = ALL current segments in one group (forceMerge-style
    full compaction, the previous behavior). Returns {gkey: [new ids]}.

    ``tombstone_ext_ids`` ADDS to the catalog's own ``ann_tombstones``
    table (registered by :func:`delete_ann`) — registered deletes always
    apply (the liveDocs state ``MergedVectorValues`` skips); tombstones
    whose rows were physically dropped here are cleared, tombstones in
    untouched segments remain (M5, per-segment liveDocs envelope).

    A dropped-fraction compaction trigger (``cfg.compact_dropped_fraction``)
    rewrites the ann tables once logically-dropped rows dominate.

    One transaction: the appends to flat, ids and every format, the
    tombstone clearing, the stage marks and the compaction become visible
    in one manifest swap; a failure leaves the pre-merge index."""
    import dataclasses

    cfg = cfg or IndexConfig()
    # merge must rebuild under the INDEX's metric, not the passed cfg's
    # default — a cosine index merged with a default cfg must stay cosine
    # (similarity function is per-field index state, never per-call:
    # CuVS2510GPUVectorsWriter.java:360-367 persists it in meta)
    built = _index_metric(cat)
    if built != cfg.ann.metric:
        cfg = dataclasses.replace(
            cfg, ann=dataclasses.replace(cfg.ann, metric=built)
        )
    metric = cfg.ann.metric
    rps = rows_per_segment or cfg.rows_per_segment
    if tombstone_ext_ids:
        # registered + explicit UNION; auto_merge off — we ARE the merge
        delete_ann(spark, cat, tombstone_ext_ids, cfg, auto_merge=False)
    tomb, tblobs = _resolve_tombstones(spark, cat)

    # segment-level metadata, read by pyarrow (∝ segment count, as the
    # text merge's segment_stats read — never the blobs)
    meta = cat.read_arrow("ann_flat", ["segment_id", "n_vecs"]).to_pydict()
    nvecs_of = dict(zip(meta["segment_id"], meta["n_vecs"]))
    if groups is None:
        groups = [sorted(nvecs_of)]
    groups = [
        [int(s) for s in g if int(s) in nvecs_of] for g in groups
    ]
    groups = [g for g in groups if g]
    if not groups:
        return {}
    # groups must partition their segments: a segment in two groups would
    # silently land in the LATER group (dict overwrite) while the recorded
    # merged_from lineage claimed both — corrupt bookkeeping, so refuse
    seen: set[int] = set()
    for g in groups:
        if len(set(g)) != len(g) or seen.intersection(g):
            dup = sorted(
                {s for s in g if g.count(s) > 1} | (seen.intersection(g))
            )
            raise ValueError(
                f"merge_ann groups overlap on segment ids {dup}: groups "
                "must be disjoint (one output range per segment)"
            )
        seen.update(g)
    gkey_of = {s: gi for gi, g in enumerate(groups) for s in g}
    merged_segs = sorted(gkey_of)

    def explode_flat(it):
        # distributed un-packing of the merging segments' flat blobs — the
        # MergedVectorValues concatenation, delete-filtered (M2/M5; the
        # tombstone set arrives as a closure array when small or as the
        # per-segment 'tomb' blob column when large — never a driver array
        # whose size grows with the delete count)
        for pdf in it:
            for r in pdf.itertuples():
                ids = np.frombuffer(r.ext_ids, np.int64)
                x = np.frombuffer(r.vectors, np.float32).reshape(r.n_vecs, r.dim)
                t = tomb if tomb is not None else _blob(pdf, r, "tomb")
                if t is not None and t.size:
                    keep = ~_member_mask(ids, t)
                    ids, x = ids[keep], x[keep]
                if ids.size == 0:
                    continue  # fully-deleted segment: nothing to carry over
                yield pd.DataFrame(
                    {"gkey": int(r.gkey), "ext_id": ids, "vector": list(map(list, x))}
                )

    # pushed isin prunes untouched segments at the parquet scan; a literal
    # map attaches the gkey (a broadcast join would run one more job)
    merging = (
        cat.read(spark, "ann_flat")
        .filter(F.col("segment_id").isin(merged_segs))
        .withColumn("gkey", _literal_map(gkey_of)[F.col("segment_id")])
    )
    if tblobs is not None:
        merging = merging.join(tblobs, "segment_id", "left")
    rows = merging.mapInPandas(
        explode_flat, "gkey long, ext_id long, vector array<float>"
    )
    # new doc order: ext_id asc per group (the frozen index sort), dense
    # ids via the range-partitioned rank — no single-partition window
    from cuvs_lucene_spark.operators.segments import grouped_dense_rank

    ranked, release = grouped_dense_rank(rows, ["gkey"], ["ext_id"], "rk")
    counts = {
        int(r["gkey"]): int(r["c"])
        for r in ranked.groupBy("gkey").agg(F.max("rk").alias("m"))
        .select("gkey", (F.col("m") + 1).alias("c")).collect()
    }
    flat_ent = cat.read_manifest()["tables"].get("ann_flat", {})
    gen = int(flat_ent.get("ann_merge_gen", 0)) + 1
    gen_base = ANN_MERGE_BASE + (gen << 32)
    base_of: dict[int, int] = {}
    new_ids: dict[int, list[int]] = {}
    seq = 0
    for gi in range(len(groups)):
        c = counts.get(gi, 0)
        n_chunks = -(-c // rps) if c else 0
        base_of[gi] = gen_base + seq
        new_ids[gi] = [gen_base + seq + j for j in range(n_chunks)]
        seq += n_chunks
    assigned = ranked.select(
        (_literal_map(base_of)[F.col("gkey")] + F.floor(F.col("rk") / F.lit(rps))).cast("long")
        .alias("segment_id"),
        "ext_id",
        "vector",
    )
    new_flat, new_id_rows = flat_rows(assigned)

    def _dropped_for(table: str) -> list[int]:
        prev = set(
            cat.read_manifest()["tables"].get(table, {}).get("dropped_segments", [])
        )
        return sorted(prev | set(merged_segs))

    tag = f"ann_merge_gen_{gen}"
    dropped_vecs = int(flat_ent.get("dropped_vecs", 0)) + sum(
        nvecs_of[s] for s in merged_segs
    )
    cat.append(
        new_flat,
        "ann_flat",
        tag=tag,
        extra_entry={
            "dropped_segments": _dropped_for("ann_flat"),
            "dropped_vecs": dropped_vecs,
            "ann_merge_gen": gen,
        },
    )
    cat.append(
        new_id_rows,
        "ann_ids",
        tag=tag,
        extra_entry={"dropped_segments": _dropped_for("ann_ids")},
    )
    release()

    # derived structures for the NEW segments only (read back from the
    # committed flat — M4 discipline; the gen range filter is a pushed
    # parquet predicate, untouched segments' blobs are never read)
    in_gen = (F.col("segment_id") >= gen_base) & (
        F.col("segment_id") < ANN_MERGE_BASE + ((gen + 1) << 32)
    )
    _append_formats(
        cat, cfg, metric, lambda t: cat.read(spark, t).filter(in_gen), tag,
        extra_entry=lambda t: {"dropped_segments": _dropped_for(t)},
    )
    _mark_bf_fallback(cat)

    # tombstones whose rows were physically dropped here clear out; those
    # referencing untouched segments stay live (per-segment liveDocs)
    if (tomb is not None or tblobs is not None) and cat.exists("ann_tombstones"):
        remaining = (
            cat.read(spark, "ann_tombstones")
            .join(cat.read(spark, "ann_ids"), "ext_id", "left_semi")
            .cache()
        )
        n_rem = remaining.count()
        cat.write(remaining, "ann_tombstones", lineage={"n": n_rem})
        remaining.unpersist()

    config = cat.read_manifest()["config"]
    if rps != config["rows_per_segment"]:
        cat.set_config({**config, "rows_per_segment": rps})

    # auto-compaction: once logically-dropped rows dominate the physical
    # tables, every read scans mostly dead data — rewrite to one compact
    # snapshot (Lucene file deletion / Iceberg rewrite_data_files)
    live_total = sum(
        n for s, n in nvecs_of.items() if s not in gkey_of
    ) + sum(counts.values())
    if dropped_vecs > cfg.compact_dropped_fraction * (dropped_vecs + live_total):
        compact_ann(spark, cat)
    cat.mark_stage(
        f"merge_ann_gen_{gen}",
        lineage={
            str(gi): {"merged_from": groups[gi], "new_segments": new_ids[gi]}
            for gi in range(len(groups))
        },
    )
    return new_ids


@transactional
def compact_ann(spark: SparkSession, cat: IndexCatalog) -> None:
    """Compaction: materialize each ANN table's current logical state
    (appends folded in, dropped segments physically removed) into one
    fresh snapshot — reclaims merged-away bytes and resets the drop lists,
    like Iceberg's rewrite_data_files / Lucene's eventual file deletion.
    The merge generation stays monotone so later merges never mint an id a
    still-live earlier-generation segment holds. The rewrites are
    independent (:func:`_concurrently`) and commit in one transaction."""
    gen = int(
        cat.read_manifest()["tables"].get("ann_flat", {}).get("ann_merge_gen", 0)
    )

    def rewrite(table: str) -> None:
        cat.write(
            cat.read(spark, table),
            table,
            sort_by=["segment_id"],
            extra_entry={"ann_merge_gen": gen} if table == "ann_flat" else None,
        )

    tables = ("ann_flat", "ann_ids", *(f.table for f in FORMATS.values()))
    _concurrently(*(lambda t=t: rewrite(t) for t in tables if cat.exists(t)))


QPACK_SCHEMA = "qn int, q_ids binary, q_mat binary"
QPACK_CHUNK = 1024  # queries per packed row (bounds probe-pair row size)
PAIR_SCHEMA = "segment_id long, list_id int, q_id long, q_vec array<double>"


def _pack_query_batches(q: DataFrame) -> DataFrame:
    """Query rows → packed batch rows (ids blob + float64 matrix blob).
    The pack is the distributed-probe transport: small enough to broadcast
    to the centroid scan, so per-query probe ranking runs executor-side
    with ZERO driver state — the query side is never collected."""

    def pack(it):
        for pdf in it:
            for lo in range(0, len(pdf), QPACK_CHUNK):
                sub = pdf.iloc[lo : lo + QPACK_CHUNK]
                qm = np.stack(
                    [np.asarray(v, np.float64) for v in sub["q_vec"].to_numpy()]
                )
                yield pd.DataFrame(
                    {
                        "qn": [len(sub)],
                        "q_ids": [sub["q_id"].to_numpy(np.int64).tobytes()],
                        "q_mat": [qm.tobytes()],
                    }
                )

    return q.mapInPandas(pack, QPACK_SCHEMA)


def _join_frame(spark: SparkSession, *cols) -> DataFrame:
    """A kNN join result (q_id, vec_id, score, rank) as a LocalRelation,
    with the Spark tier's 6-dp rounding (a projection the optimizer folds
    into the relation: no job)."""
    return local_frame(spark, "q_id long, vec_id long, score double, rank int", *cols).select(
        "q_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


def _join_resident(spark: SparkSession, cat: IndexCatalog, tables: dict, head, k: int,
                   nprobe: int | None, metric: str, bf_segs: list[int],
                   allowed: np.ndarray | None, tomb: np.ndarray | None) -> DataFrame:
    """:func:`knn_join_ivf`'s resident tier over the query rows ``head``
    (an Arrow table of q_id, q_vec) and the pack entries of the manifest
    ``tables``: the Spark tier's probe and per-list kernels run over the
    pack in the driver, each probed list scored once for the bundle of
    queries probing it (in query-row order), every B2 segment for all
    queries."""
    if not head.num_rows:
        return _join_frame(spark)
    vecs = head.column("q_vec").combine_chunks()
    if len(set(pc.list_value_length(vecs).to_pylist())) > 1 or vecs.null_count:
        raise ValueError("knn_join_ivf: query vectors must all have one dimension")
    qids = head.column("q_id").to_numpy().astype(np.int64)
    qb = _norm_qb(vecs.flatten().to_numpy().astype(np.float64).reshape(qids.size, -1), metric)
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]

    def score(x_blob, ids_blob, n: int, who: np.ndarray) -> None:
        ids = np.frombuffer(ids_blob, np.int64)
        x = np.frombuffer(x_blob, np.float32).reshape(n, qb.shape[1])
        parts.append(_bundle_topk(x, ids, qids[who], qb[who], metric, k,
                                  _accept_mask(ids, allowed, tomb)))

    pack = _centroid_pack(cat, tables)
    if pack is not None:
        lists = _ivf_entry(cat, tables).lists
        at = dict(zip(zip(lists["segment_id"].tolist(), lists["list_id"].tolist()),
                      lists[["vectors", "ext_ids", "n"]].itertuples(index=False)))
        for lo in np.flatnonzero(pack["lst_row"] == 0):
            seg, hi = int(pack["seg_row"][lo]), lo + int(pack["n_lists_row"][lo])
            probe = _rank_lists(qb, pack["C"][lo:hi].astype(np.float64),
                                nprobe or int(pack["npb_row"][lo]))
            for lst in np.unique(probe):  # a centroid whose list is empty has no row
                if (seg, int(lst)) in at:
                    score(*at[(seg, int(lst))], np.flatnonzero((probe == lst).any(1)))
    if bf_segs:
        flat = _resident_rows(cat, "ann_flat", tables)
        for r in flat[flat["segment_id"].isin(bf_segs)].itertuples(index=False):
            score(r.vectors, r.ext_ids, int(r.n_vecs), np.arange(qids.size))
    return _join_frame(spark, *_rank_joined(*(np.concatenate(c) for c in zip(*parts)), k))


def knn_join_ivf(
    spark: SparkSession,
    cat: IndexCatalog,
    queries: DataFrame,
    k: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    nprobe: int | None = None,
    probe_mode: str = "auto",
    filter_ext_ids=None,
    filter_mode: str = "auto",
) -> DataFrame:
    """Scalable kNN join through the IVF sidecar (the bucketed composition
    ``knn_join``'s docstring promises): for every query row, its k nearest
    indexed vectors by the index metric → (q_id, vec_id, score, rank).

    ``filter_ext_ids`` restricts the INDEXED side for every query (the
    batch-inference "join against the lang=en subset" shape) — pre-
    semantics, same acceptDocs contract and two-tier transport as
    :func:`ann_topk` (set → closure; DataFrame → per-segment blobs joined
    onto the list rows, no driver set).

    Shape at scale — never an all-pairs crossJoin:
    1. one tiny centroids scan (pushed ``list_id = -1`` filter);
    2. every query picks its ``nprobe`` closest lists per segment;
    3. probe pairs are aggregated to ONE row per (segment_id, list_id)
       carrying the bundle of querying vectors, then broadcast-hash-joined
       to ``ann_ivf`` on the bucket key — each list blob crosses the wire
       exactly once regardless of how many queries probe it;
    4. per-list exact scoring (vectorized q-bundle × list matrix), then a
       windowed global top-k per query.

    ``probe_mode`` picks where step (2) runs, mirroring :func:`ann_topk`:

    - ``driver`` — probe ranking over the memoized centroid pack (the one
      :func:`ann_topk` probes with). Under the resident tier's conditions
      (:func:`_search`'s: the catalog fits ``RESIDENT_MAX_BYTES``, no
      filter or tombstone blobs), over a
      query side of at most ``resident.RESIDENT_JOIN_MAX_QUERIES`` rows
      that ``frames.small_arrow`` reads (a ``LocalRelation``'s rows with
      no job, else one head read of a plan a limit reads only a head of),
      the join runs steps (2)-(4) in the driver over the pack with
      the same kernels (:func:`_join_resident`). Its result is computed
      at call time and returned as a local frame, so a commit made before
      it is collected does not change it. Otherwise the pack's
      per-segment slices ride the query-side ``mapInPandas`` closure and
      the query side is never collected. Latency-optimal; driver/closure memory ∝ total
      centroids.
    - ``distributed`` — the query side is packed into batch rows
      (:func:`_pack_query_batches`) and broadcast against the pruned
      ``list_id = -1`` centroid scan; ranking runs next to the scan. NO
      state anywhere grows with segment count and the query side is never
      collected, but the packed query matrix must fit one broadcast — the
      many-segments × FEW-queries cell.
    - ``shuffle`` — fragment-and-replicate: centroid rows are hashed into
      ``R = spark.sql.shuffle.partitions`` buckets, each packed query
      chunk is replicated once per bucket, and the two sides meet in a
      shuffled equi-join on the bucket key. Per-task memory is one
      centroid fragment (∝ centroids / R) plus a streamed query chunk —
      NEITHER all-centroids NOR all-queries ever sits on one node, and
      nothing is broadcast or collected. The 10⁸-queries × 10⁶-segments
      batch-inference cell (the reference's per-leaf search state never
      lives on one node, ``CuVS2510GPUVectorsReader.search:398-523`` is
      per-segment; the probe work is inherently queries × segments, this
      tier just transports it without a global materialization).
    - ``auto`` — ``driver`` while the build-time segment count is at most
      ``PROBE_DRIVER_MAX_SEGMENTS``, else ``shuffle`` (safe on both axes).

    Approximate (probe recall), validated by containment against the exact
    oracle like the reference's randomized search tests."""
    _check_choice("probe_mode", probe_mode, PROBE_MODES)
    if k <= 0:
        return _join_frame(spark)
    metric = _index_metric(cat)
    shuffle = probe_mode == "shuffle" or (probe_mode == "auto" and _many_segments(cat))
    distributed = probe_mode == "distributed" or shuffle
    # B2 degradation ladder: segments too small for an IVF index are
    # brute-forced — every query probes them as one pseudo-list (-2), so
    # their vectors are reachable exactly like ann_topk's bf fallback
    bf_segs = _listed_bf_segments(cat)
    tomb, tblobs = _resolve_tombstones(spark, cat)
    allowed, fblobs = _resolve_filter(spark, cat, filter_ext_ids, filter_mode)

    q = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("q_vec"))
    # the resident tier: the conditions of _search's, plus a bounded query
    # side that a limit reads without running its plan twice
    if (not distributed and fblobs is None and tblobs is None
            and (tables := _resident_fits(cat)) is not None):
        head = small_arrow(q, R.RESIDENT_JOIN_MAX_QUERIES)
        if head is not None:
            return _join_resident(spark, cat, tables, head, k, nprobe, metric, bf_segs,
                                  allowed, tomb)
    ivf = cat.read(spark, "ann_ivf") if cat.exists("ann_ivf") else None


    def _pairs(seg: int, qi_ids: np.ndarray, qb: np.ndarray, probe=None) -> pd.DataFrame:
        """Probe pairs of one segment: the ranked lists per query, or the
        bf pseudo-list -2 for an index-less segment."""
        npb = 1 if probe is None else probe.shape[1]
        return pd.DataFrame(
            {
                "segment_id": seg,
                "list_id": np.int32(-2) if probe is None else probe.ravel().astype(np.int32),
                "q_id": np.repeat(qi_ids, npb),
                "q_vec": list(np.repeat(qb, npb, axis=0)),
            }
        )

    if distributed and ivf is not None:
        # probe ranking runs NEXT TO the pruned centroid scan; the query
        # pack is never collected to the driver — it arrives either as a
        # broadcast (distributed tier) or through the bucketed
        # fragment-and-replicate join (shuffle tier)
        qpack = _pack_query_batches(q)
        if shuffle:
            n_bkt = shuffle_partitions(spark)
            salt = F.array(*[F.lit(i) for i in range(n_bkt)])
            qpack = qpack.withColumn("rbkt", F.explode(salt))

        def _meet_queries(scan_df: DataFrame) -> DataFrame:
            """Pair every scan row with every query chunk. Shuffle tier:
            equi-join on the salt bucket — the scan side fragments by
            hash(segment_id), the chunk side is replicated per bucket, a
            shuffled hash join streams the chunks past each fragment
            (build side = the bounded fragment, hinted). Distributed
            tier: one executor-side broadcast of the whole pack."""
            if shuffle:
                frag = scan_df.withColumn(
                    "rbkt", F.pmod(F.hash("segment_id"), F.lit(n_bkt))
                )
                return frag.hint("shuffle_hash").join(qpack, "rbkt")
            return scan_df.crossJoin(F.broadcast(qpack))

        def _bundle(r) -> tuple[np.ndarray, np.ndarray]:
            qb = np.frombuffer(r.q_mat, np.float64).reshape(int(r.qn), -1)
            return np.frombuffer(r.q_ids, np.int64), _norm_qb(qb, metric)

        def probe_dist(it):
            for pdf in it:
                for r in pdf.itertuples(index=False):
                    qi_ids, qb = _bundle(r)
                    cents = (
                        np.frombuffer(r.vectors, np.float32)
                        .reshape(int(r.n), qb.shape[1]).astype(np.float64)
                    )
                    npb = nprobe or _default_nprobe(r, qb.shape[1])
                    yield _pairs(int(r.segment_id), qi_ids, qb, _rank_lists(qb, cents, npb))

        pairs = _meet_queries(
            ivf.filter(F.col("list_id") == -1)
            .select("segment_id", "n", "ext_ids", "vectors")
        ).mapInPandas(probe_dist, PAIR_SCHEMA)
        if bf_segs:

            def bf_dist(it):
                for pdf in it:
                    for r in pdf.itertuples(index=False):
                        yield _pairs(int(r.segment_id), *_bundle(r))

            bf_df = local_frame(spark, "segment_id long", bf_segs)
            pairs = pairs.unionByName(
                _meet_queries(bf_df).mapInPandas(bf_dist, PAIR_SCHEMA)
            )
    else:
        pack = _centroid_pack(cat) if ivf is not None else None
        if pack is None and not bf_segs:
            return _join_frame(spark)
        # per-segment slices of the memoized centroid pack ride the task
        # closure; the query side is still never collected (latency mode —
        # closure ∝ total centroids)
        C, cuts = (None, []) if pack is None else (pack["C"], [
            (int(pack["seg_row"][lo]), lo, lo + int(pack["n_lists_row"][lo]),
             int(pack["npb_row"][lo]))
            for lo in np.flatnonzero(pack["lst_row"] == 0)
        ])

        def probe_fn(it):
            # per query batch: nprobe closest lists in every segment
            # (vectorized (Q, L) distance per segment)
            for pdf in it:
                if not len(pdf):
                    continue
                qb = _norm_qb(
                    np.stack(
                        [np.asarray(v, dtype=np.float64) for v in pdf["q_vec"].to_numpy()]
                    ),
                    metric,
                )
                qi_ids = pdf["q_id"].to_numpy(np.int64)
                for seg, lo, hi, npb in cuts:
                    cents = C[lo:hi].astype(np.float64)
                    yield _pairs(seg, qi_ids, qb, _rank_lists(qb, cents, nprobe or npb))
                for seg in bf_segs:  # every query scans the index-less segments
                    yield _pairs(seg, qi_ids, qb)

        pairs = q.mapInPandas(probe_fn, PAIR_SCHEMA)
    # ONE row per probed bucket carrying its query bundle: the fat list
    # blob joins exactly once however many queries probe it. AQE picks
    # broadcast vs shuffled hash join by bundle size.
    bundle = pairs.groupBy("segment_id", "list_id").agg(
        F.collect_list(F.struct("q_id", "q_vec")).alias("qs")
    )
    lists = None
    if ivf is not None:
        lists = ivf.filter(F.col("list_id") >= 0)
    if bf_segs:
        flat_lists = (
            cat.read(spark, "ann_flat")
            .filter(F.col("segment_id").isin(bf_segs))
            .select(
                "segment_id",
                F.lit(-2).cast("int").alias("list_id"),
                F.col("n_vecs").alias("n"),
                "ext_ids",
                "vectors",
            )
        )
        lists = flat_lists if lists is None else lists.unionByName(flat_lists)
    # blob tiers ride the list rows; segments with no allowed id are
    # pruned from the join entirely (inner), tombstones LEFT-join
    lists = _attach_aux(lists, fblobs, tblobs)
    sel = lists.join(bundle, ["segment_id", "list_id"])

    def score(it):
        for pdf in it:
            for r in pdf.itertuples():
                dim = len(r.qs[0]["q_vec"])
                x = np.frombuffer(r.vectors, np.float32).reshape(r.n, dim)
                ids = np.frombuffer(r.ext_ids, np.int64)
                qids, vids, s = _bundle_topk(
                    x, ids, np.array([e["q_id"] for e in r.qs], dtype=np.int64),
                    np.array([e["q_vec"] for e in r.qs], dtype=np.float64), metric, k,
                    _row_accept(pdf, r, ids, allowed, tomb),
                )
                yield pd.DataFrame({"q_id": qids, "vec_id": vids, "score": s})

    from pyspark.sql import Window

    partials = sel.mapInPandas(score, "q_id long, vec_id long, score double")
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def knn_join(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    v_id: str = "vec_id",
    v_vec: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact similarity join: for every query row, its k nearest vectors →
    (q_id, vec_id, score, rank). Query side is broadcast (small); the big
    side streams through a codegen'd projection + windowed top-k.
    This is the EXACT path for small query sets (≤ ~10^3); for large query
    sides use :func:`knn_join_ivf`, which equi-joins through the IVF bucket
    key instead of scanning the full vector side per query batch.
    ``metric``: cosine similarity, or l2 (score = 1/(1+d²), S5)."""
    from pyspark.sql import Window

    q = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("q_vec"))
    v = vectors.select(F.col(v_id).alias("vec_id"), F.col(v_vec).alias("v_vec"))
    pair = v.crossJoin(F.broadcast(q))
    to64 = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    if metric == "l2":
        d2 = F.aggregate(
            F.zip_with(to64("v_vec"), to64("q_vec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        scored = pair.select("q_id", "vec_id", (F.lit(1.0) / (F.lit(1.0) + d2)).alias("score"))
    elif metric == "cosine":
        dot = F.aggregate(F.zip_with(to64("v_vec"), to64("q_vec"), lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        nv = F.sqrt(F.aggregate(F.transform(to64("v_vec"), lambda a: a * a),
                                F.lit(0.0), lambda acc, x: acc + x))
        nq = F.sqrt(F.aggregate(F.transform(to64("q_vec"), lambda a: a * a),
                                F.lit(0.0), lambda acc, x: acc + x))
        scored = pair.select(
            "q_id", "vec_id", (dot / (nv * nq)).alias("score")
        )
    else:
        raise ValueError(metric)
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def exact_knn_expr(
    vectors: DataFrame,
    query: list[float],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Brute-force top-k as a PURE Catalyst expression (zip_with/aggregate —
    whole-stage codegen, zero Python): the JVM-side baseline path the
    DuckDB oracle checks directly."""
    qcol = F.array(*[F.lit(float(v)) for v in query])
    vec64 = F.transform(F.col(vector_col), lambda a: a.cast("double"))
    dot = F.aggregate(
        F.zip_with(vec64, qcol, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    if metric == "dot":
        score = dot
    elif metric == "cosine":
        nv = F.sqrt(
            F.aggregate(
                F.transform(vec64, lambda a: a * a),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
        nq = float(np.linalg.norm(np.asarray(query, dtype=np.float64)))
        score = dot / (nv * F.lit(nq))
    else:
        raise ValueError(metric)
    return (
        vectors.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
