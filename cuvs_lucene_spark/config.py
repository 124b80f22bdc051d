"""Index/build/query configuration.

Mirrors the parameter surface of the reference (SURVEY.md §2.6):
``GPUSearchParams`` defaults (reference ``GPUSearchParams.java:46-54``) map to
ANN sidecar knobs; BM25 constants are pinned by the north rule (k1=1.2,
b=0.75); the CAGRA/IVF-PQ parameter heuristics replicate
``CagraIndexParamsFactory.java:22,31-93,149-178`` formula-for-formula.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    """BM25 scoring constants (north rule pins k1=1.2, b=0.75).

    Scoring formula used on BOTH the engine and every oracle:

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))        # Lucene's idf
        s(t, d) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    accumulated in float64, tie-break (score desc, ext_id asc).
    """

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class AnnParams:
    """ANN sidecar parameters.

    ``graph_degree``/``intermediate_graph_degree``/``nn_descent_iters``
    mirror the reference defaults (``GPUSearchParams.java:46-54``); the
    ``max_dims``/``max_k_ann`` limits mirror
    ``CuVS2510GPUVectorsFormat.java:27`` and
    ``CuVS2510GPUVectorsReader.java:438``.
    """

    metric: str = "l2"  # l2 | cosine | dot  (EUCLIDEAN/COSINE/DOT, SURVEY §1.2)
    graph_degree: int = 64
    intermediate_graph_degree: int = 128
    nn_descent_iters: int = 20
    # multi-layer graph entry (AcceleratedHNSWUtils.createMultiLayerHnswGraph
    # :101-117,176-229 samples 1/M nodes per upper layer): deterministic
    # stride-sampled upper layers are built for segments with at least
    # ``upper_layers_min_nodes`` vectors; below that the √n entry sweep is
    # cheaper than maintaining layers (documented crossover, BENCH.md)
    upper_layer_stride: int = 32
    upper_layers_min_nodes: int = 100_000
    max_dims: int = 4096
    max_k_ann: int = 1024          # k beyond this routes to brute force (S1)
    min_ann_index_size: int = 2    # below this fall back to brute force (B2)
    kmeans_iters: int = 10
    seed: int = 42
    # tombstone envelope: once registered deletes exceed this fraction of
    # the indexed vectors OR the absolute count below, delete_ann
    # auto-triggers a group-wise merge_ann of ONLY the affected segments —
    # the query-time tombstone set is thereby provably bounded, the same
    # role Lucene's deletesPctAllowed merge pressure plays for liveDocs.
    # The absolute cap matters because a fraction is not a size: at 10¹¹
    # vectors, 25% is 2.5·10¹⁰ ids. Between FILTER_BROADCAST_MAX and this
    # cap, tombstones resolve through per-segment packed blobs (DataFrame
    # tier), never a driver array.
    delete_merge_fraction: float = 0.25
    delete_merge_max_count: int = 2_000_000


@dataclass(frozen=True)
class IndexConfig:
    """Full engine configuration passed to build / merge / query entry points.

    Every field is range-validated at construction, mirroring the
    reference's builder validation (``GPUSearchParams.java:218-421``,
    tested by ``TestGPUSearchParams.java:42-132`` — SURVEY.md §5.6).
    """

    bm25: BM25Params = field(default_factory=BM25Params)
    ann: AnnParams = field(default_factory=AnnParams)

    # --- segmentation (a segment ≙ one Lucene flush unit, SURVEY §1.1) ---
    rows_per_segment: int = 100_000     # target docs per segment

    # --- posting codec (B14/B15 recipe: sort→delta→varint + block directory) ---
    block_size: int = 128               # postings per block
    # still validated because callers pass it, but no longer affects
    # scoring: the dense BM25 kernel replaced block-max range pruning
    prune_range: int = 2048

    # --- shuffle/skew handling ---
    term_buckets: int = 64              # postings partition column (query-side pruning)
    salt_factor: int = 8                # salted two-stage merge for hot terms
    merge_fanin: int = 10               # hierarchical merge fan-in

    # --- query defaults ---
    # Per-query search-parameter mapping to the reference's
    # ``GPUSearchParams``/``GPUKnnFloatVectorQuery`` surface (§2.6 parity):
    #
    #   reference knob              this engine
    #   -------------------------   ------------------------------------------
    #   iTopK / intermediate top-k  ``ef`` arg of ann_topk_graph (default
    #                               max(k + overfetch, 64) — iTopK ≥ topK, O5)
    #   searchWidth                 ``nprobe`` arg of ann_topk / knn_join_ivf
    #                               (IVF lists probed per segment; default
    #                               from ivf_pq_params n_probes)
    #   refinementRate              ``rerank_factor`` arg of ann_topk_sq/_pq
    #                               (coarse candidates = k * rerank_factor)
    #   filtered-search widening    none needed: filters apply INSIDE each
    #                               leaf (pre-filter), so a leaf's top-k is
    #                               already its accepted top-k
    #   visitedLimit                ``visited_limit`` arg of ann_topk_graph
    #                               (max nodes scored per leaf; beam stops
    #                               early when exhausted — collector budget,
    #                               GPUPerLeafCuVSKnnCollector.java:26-38)
    default_k: int = 10
    overfetch: int = 10                 # graph beam floor: ef = max(k + overfetch, 64)
                                        # (the k+10 widening of
                                        # CuVS2510GPUVectorsReader.java:432)
    # incremental merges drop segments logically; a merge auto-compacts the
    # segdata table once the dropped-doc fraction exceeds this (Lucene
    # deletes unreferenced files; Iceberg rewrite_data_files)
    compact_dropped_fraction: float = 0.3

    def __post_init__(self):
        checks = [
            ("rows_per_segment", self.rows_per_segment, 1, 100_000_000),
            ("block_size", self.block_size, 1, 1 << 20),
            ("prune_range", self.prune_range, 1, 1 << 31),
            ("term_buckets", self.term_buckets, 1, 1 << 20),
            ("salt_factor", self.salt_factor, 1, 1 << 16),
            ("merge_fanin", self.merge_fanin, 2, 1 << 16),
            ("overfetch", self.overfetch, 0, 1 << 20),
        ]
        for name, val, lo, hi in checks:
            if not isinstance(val, int) or not (lo <= val <= hi):
                raise ValueError(f"{name}={val!r} out of range [{lo}, {hi}]")
        if not (0.0 < self.bm25.k1 <= 10.0):
            raise ValueError(f"bm25.k1={self.bm25.k1} out of range (0, 10]")
        if not (0.0 <= self.bm25.b <= 1.0):
            raise ValueError(f"bm25.b={self.bm25.b} out of range [0, 1]")
        if self.ann.metric not in ("l2", "cosine", "dot"):
            raise ValueError(f"ann.metric={self.ann.metric!r} not in l2|cosine|dot")
        if self.ann.max_dims < 1:
            raise ValueError("ann.max_dims must be >= 1")
        if not (0.0 < self.ann.delete_merge_fraction <= 1.0):
            raise ValueError(
                f"ann.delete_merge_fraction={self.ann.delete_merge_fraction} "
                "out of range (0, 1]"
            )
        if not (
            isinstance(self.ann.delete_merge_max_count, int)
            and self.ann.delete_merge_max_count >= 1
        ):
            raise ValueError(
                f"ann.delete_merge_max_count={self.ann.delete_merge_max_count!r} "
                "must be a positive int"
            )
        if not (0.0 <= self.compact_dropped_fraction <= 1.0):
            raise ValueError(
                f"compact_dropped_fraction={self.compact_dropped_fraction} "
                "out of range [0, 1]"
            )


# ---------------------------------------------------------------------------
# Reference parameter heuristics, replicated formula-for-formula
# (CagraIndexParamsFactory.java — SURVEY.md O1/O2/B5).
# ---------------------------------------------------------------------------

def shuffle_partitions(spark, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerant of platforms
    where the conf is non-numeric (auto-optimized shuffle returns
    "auto"); falls back to the cluster default parallelism."""
    try:
        return max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (ValueError, TypeError):
        try:
            return max(1, int(spark.sparkContext.defaultParallelism))
        except Exception:
            return default


NN_DESCENT_THRESHOLD = 5_000_000  # CagraIndexParamsFactory.java:22


def choose_build_algo(n_rows: int) -> str:
    """NN_DESCENT below 5M rows, IVF_PQ above (CagraIndexParamsFactory.java:151-167)."""
    return "NN_DESCENT" if n_rows < NN_DESCENT_THRESHOLD else "IVF_PQ"


def ivf_pq_params(n_rows: int, dim: int) -> dict:
    """Derived IVF-PQ parameters (CagraIndexParamsFactory.java:31-93).

    nLists = max(1, rows/2000); nProbes = round(sqrt(nLists)/20 + 4);
    kmeansTrainsetFraction = clamp(1/sqrt(rows*1e-5)) to (0,1];
    pqBits = 8 if dim<=32 else 4; pqDim bucketed by dim.
    """
    n_lists = max(1, n_rows // 2000)
    n_probes = int(round(math.sqrt(n_lists) / 20.0 + 4))
    frac = 1.0 / math.sqrt(n_rows * 1e-5) if n_rows > 0 else 1.0
    kmeans_trainset_fraction = min(1.0, max(1e-3, frac))
    pq_bits = 8 if dim <= 32 else 4
    if dim <= 64:
        pq_dim = dim
    elif dim <= 128:
        pq_dim = dim // 2
    elif dim <= 512:
        pq_dim = dim // 4
    else:
        pq_dim = dim // 8
    return {
        "n_lists": n_lists,
        "n_probes": n_probes,
        "kmeans_trainset_fraction": kmeans_trainset_fraction,
        "pq_bits": pq_bits,
        "pq_dim": pq_dim,
    }
