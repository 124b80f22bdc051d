"""Graph-based ANN sidecar — the CAGRA→HNSW conversion analogue (B12,
the reference's single biggest component:
``AcceleratedHNSWUtils.createMultiLayerHnswGraph``
``/root/reference — src/main/java/com/nvidia/cuvs/lucene/AcceleratedHNSWUtils.java:81-171``).

Spark-first restatement:

- **Build** (per segment, from the committed flat storage — merge/build
  never read query-side structures, M4): an exact kNN graph of degree G
  over the segment's vectors. The reference builds the adjacency on the
  GPU (CAGRA) and converts to Lucene HNSW; a dense exact kNN graph is the
  CPU-exact equivalent at per-segment scale (the O1 heuristic's
  NN_DESCENT/IVF_PQ switch is where an approximate graph builder slots in
  for 5M+-row segments).
- **Serialization**: per node, neighbor ids **sorted → deduped →
  delta-encoded → varint**, with a cumulative byte-offset directory —
  exactly the graph compression recipe of
  ``AcceleratedHNSWUtils.writeGraph:239-289`` + ``writeMeta:350-366``
  (DirectMonotonicWriter offsets), the same codec this engine uses for
  posting lists (B14/B15).
- **Search** (per leaf, S1): batched best-first beam over the graph with
  an ``ef ≥ k`` frontier (the iTopK ≥ topK widening, O5,
  ``GPUPerLeafCuVSKnnCollector.java:28``) honoring an acceptDocs mask and
  a visit budget. The multi-layer entry descent (reference samples 1/M
  nodes per upper layer, ``createMultiLayerHnswGraph:101-117``) is
  mirrored exactly for segments ≥ ``upper_layers_min_nodes``: stride-
  sampled upper layers with their own kNN sub-graphs, descended top-down
  to seed the base beam; smaller segments use a √n-stride entry sweep
  (cheaper than layer maintenance at that size — crossover in BENCH.md).
  Scores normalize ``1/(1+d)`` (S5).

Approximate → validated by containment against the exact top-3k
(``TestCuVSRandomizedVectorSearch.java:140-143``) plus a fixed-seed golden
set (``TestCagraToHnswSerializationAndSearch.java:125-145`` methodology).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cuvs_lucene_spark.config import IndexConfig, choose_build_algo
from cuvs_lucene_spark.frames import _rows
from cuvs_lucene_spark.functions.varint import varint_decode, varint_encode
from cuvs_lucene_spark.operators.ann import (
    FORMATS,
    GRAPH_SCHEMA,
    _nav_vectors,
    _Query,
    _scores,
    _search,
    _topk_frame,
    _write_format,
)
from cuvs_lucene_spark.sources.catalog import IndexCatalog, transactional


def _encode_adjacency(nbrs: list[np.ndarray]) -> tuple[bytes, bytes]:
    """Neighbor lists → (offsets directory, concatenated varint blob) —
    the writeGraph:239-289 codec (sorted → delta → varint + monotonic
    offsets)."""
    blobs = []
    for ns in nbrs:
        deltas = np.empty(ns.size, np.int64)
        deltas[0] = ns[0]
        np.subtract(ns[1:], ns[:-1], out=deltas[1:])
        blobs.append(varint_encode(deltas))
    offs = np.zeros(len(blobs) + 1, "<u8")
    offs[1:] = np.cumsum([len(b) for b in blobs])
    return offs.tobytes(), b"".join(blobs)


EXACT_KNN_MAX = 4096  # segments up to this size build the exact kNN graph;
                      # larger ones use NN-descent (the reference's own
                      # default build algo) — O(n²) vs ~O(n·G²·iters)


def _exact_knn_graph(x: np.ndarray, degree: int) -> list[np.ndarray]:
    """Exact kNN adjacency (neighbors of each node, self excluded),
    blocked so the distance matrix never exceeds ~64MB."""
    n = x.shape[0]
    g = min(degree, n - 1)
    x64 = x.astype(np.float64)
    sq = (x64**2).sum(1)
    out: list[np.ndarray] = []
    block = max(1, int(8_000_000 // max(n, 1)))
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        d = sq[lo:hi, None] - 2.0 * (x64[lo:hi] @ x64.T) + sq[None, :]
        d[np.arange(lo, hi) - lo, np.arange(lo, hi)] = np.inf  # no self edge
        nbr = np.argpartition(d, g - 1, axis=1)[:, :g]
        out.extend(np.sort(nbr[i]).astype(np.int64) for i in range(hi - lo))
    return out


def _merge_topg(
    B: np.ndarray, D: np.ndarray, candB: np.ndarray, candD: np.ndarray, g: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Rowwise merge of candidate edges into the adjacency: dedupe ids
    keeping the best distance, then top-g by (distance, id) — fully stable
    (two lexsorts), so the build is bit-deterministic. Returns the new
    (B, D) and the number of changed edges (convergence signal)."""
    allB = np.concatenate([B, candB], 1)
    allD = np.concatenate([D, candD], 1)
    o1 = np.lexsort((allD, allB), axis=1)
    b1 = np.take_along_axis(allB, o1, 1)
    d1 = np.take_along_axis(allD, o1, 1)
    dup = np.zeros_like(b1, dtype=bool)
    dup[:, 1:] = b1[:, 1:] == b1[:, :-1]
    d1[dup] = np.inf
    o2 = np.lexsort((b1, d1), axis=1)[:, :g]
    newB = np.take_along_axis(b1, o2, 1)
    newD = np.take_along_axis(d1, o2, 1)
    changed = int((np.sort(newB, 1) != np.sort(B, 1)).sum())
    return newB, newD, changed


def _nn_descent_graph(
    x: np.ndarray, degree: int, iters: int, seed: int
) -> list[np.ndarray]:
    """Deterministic approximate kNN-graph build for large segments — the
    reference's NN_DESCENT role (``CagraIndexParamsFactory.java:149-167``,
    ``GPUSearchParams.java:46-54`` nnDescentIters), restated in the shape
    that is fast on CPU BLAS:

    1. **RP-forest rounds**: each round draws seeded random hyperplanes,
       recursively median-splits the segment into blocks of ≤ ``_RP_LEAF``
       nodes, and computes EXACT block-local top-g neighbors with one
       dense GEMM per block (never an n×n matrix). Different rounds use
       different projections, so candidate edges accumulate across
       co-location patterns (the RP-tree init of nn-descent literature).
    2. **NN-descent refinement rounds**: every node proposes sampled
       neighbors-of-neighbors + a sample of its REVERSE neighbors;
       distances via blocked gathers; merge keeps the best g by
       (distance, id). Stops early when <0.1% of edges change.

    Fully seeded and tie-stable → a rebuild is bit-identical (the
    determinism contract the golden-set serialization test pins)."""
    n = x.shape[0]
    g = min(degree, n - 1)
    dim = x.shape[1]
    rng = np.random.default_rng(seed)
    xf = np.ascontiguousarray(x, dtype=np.float32)
    x64 = xf.astype(np.float64)
    # candidate RANKING runs in float32 GEMM (2× the throughput; the graph
    # is approximate by contract and search rescores exactly) — still
    # bit-deterministic: identical arithmetic on every rebuild
    sqf = np.einsum("nd,nd->n", xf, xf)
    sq = (x64**2).sum(1)
    arange_n = np.arange(n, dtype=np.int64)

    B = np.broadcast_to(arange_n[:, None], (n, g)).copy()  # self = placeholder
    D = np.full((n, g), np.inf)

    # ---- RP-forest rounds -------------------------------------------------
    for _ in range(_RP_ROUNDS):
        blocks = [arange_n]
        while max(b.size for b in blocks) > _RP_LEAF:
            nxt = []
            for idx in blocks:
                if idx.size <= _RP_LEAF:
                    nxt.append(idx)
                    continue
                proj = x64[idx] @ rng.normal(size=dim)
                o = np.argsort(proj, kind="stable")
                half = idx.size // 2
                nxt.append(idx[o[:half]])
                nxt.append(idx[o[half:]])
            blocks = nxt
        candB = np.broadcast_to(arange_n[:, None], (n, g)).copy()
        candD = np.full((n, g), np.inf)
        for idx in blocks:
            m = idx.size
            gb = min(g, m - 1)
            if gb < 1:
                continue
            xb = xf[idx]
            d2 = (sqf[idx, None] - 2.0 * (xb @ xb.T) + sqf[None, idx]).astype(
                np.float64
            )
            np.fill_diagonal(d2, np.inf)
            top = np.argpartition(d2, gb - 1, axis=1)[:, :gb]
            candB[idx, :gb] = idx[top]
            candD[idx, :gb] = np.take_along_axis(d2, top, 1)
        B, D, _c = _merge_topg(B, D, candB, candD, g)

    # ---- NN-descent refinement rounds ------------------------------------
    def cand_dist(cand: np.ndarray) -> np.ndarray:
        # d²(i, cand[i, m]) via blocked float32 gathers (~40MB per block)
        m = cand.shape[1]
        out = np.empty(cand.shape, np.float64)
        block = max(1, int(4e7 // max(m * dim * 4, 1)))
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            xc = xf[cand[lo:hi]]  # (b, m, dim)
            dots = np.einsum("bd,bmd->bm", xf[lo:hi], xc)
            out[lo:hi] = (
                sqf[lo:hi, None] - 2.0 * dots + sqf[cand[lo:hi]]
            ).astype(np.float64)
        return out

    K = min(8, g)  # per-round sample width (forward / nn-of-nn / reverse)
    # the RP rounds already provide a strong init, so a few descent rounds
    # capture most of the remaining gain (the 20k study in BENCH.md:
    # recall 0.51 → 0.61 in 2 rounds → 0.70 by convergence); cap the
    # gather-bound rounds so build time stays GEMM-dominated
    for _ in range(min(max(0, iters), _NND_MAX_REFINE)):
        samp = B[:, :K]  # current-best K plus K random neighbors
        if g > K:
            rcols = rng.integers(0, g, size=(n, K))
            samp = np.concatenate([samp, np.take_along_axis(B, rcols, 1)], 1)
        s = samp.shape[1]
        # sampled neighbors-of-neighbors, gathered flat (never (n, s, g))
        k2cols = rng.integers(0, g, size=(n * s, K))
        nn = B[samp.ravel()[:, None], k2cols].reshape(n, s * K)
        # reverse sample: up to K nodes that currently list i as neighbor
        src = np.repeat(arange_n, g)
        dst = B.ravel()
        order = np.lexsort((src, dst))
        dsts, srcs = dst[order], src[order]
        starts = np.searchsorted(dsts, arange_n)
        ends = np.searchsorted(dsts, arange_n + 1)
        take = np.minimum(ends - starts, K)
        rev = np.broadcast_to(arange_n[:, None], (n, K)).copy()  # pad = self
        pos = starts[:, None] + np.arange(K)[None, :]
        valid = np.arange(K)[None, :] < take[:, None]
        rev[valid] = srcs[pos[valid]]
        cand = np.concatenate([nn, rev], 1)
        # self/placeholder candidates would enter at distance 0 — redirect
        # to an existing neighbor (a dup, removed by the merge's dedupe)
        self_m = cand == arange_n[:, None]
        cand[self_m] = np.broadcast_to(B[:, :1], cand.shape)[self_m]
        B, D, changed = _merge_topg(B, D, cand, cand_dist(cand), g)
        if changed < max(1, int(0.01 * n * g)):
            break
    out = []
    for i in range(n):
        keep = np.isfinite(D[i]) & (B[i] != i)
        out.append(np.unique(B[i][keep]))
    return out


_RP_ROUNDS = 8       # RP-forest candidate rounds (different seeded projections)
_RP_LEAF = 1024      # exact-GEMM block size at the tree leaves
_NND_MAX_REFINE = 3  # cap on gather-bound descent rounds after the RP init


def _knn_graph(
    x: np.ndarray, degree: int, iters: int = 20, seed: int = 42,
    exact_max: int | None = None,
) -> list[np.ndarray]:
    """kNN adjacency with the size-based algorithm switch: exact for small
    segments (faster below the crossover, BENCH.md), RP-forest +
    NN-descent refinement above. ``exact_max`` overrides the crossover
    (0 forces the NN-descent branch for every size — used by tests and
    the driver's ``ann_graph_nnd`` row; the override is a closure VALUE,
    so it reaches executor workers, unlike a monkeypatched module
    global)."""
    cap = EXACT_KNN_MAX if exact_max is None else int(exact_max)
    if x.shape[0] <= cap:
        return _exact_knn_graph(x, degree)
    return _nn_descent_graph(x, degree, iters, seed)


def _graph_rows(flat: pd.DataFrame, cfg: IndexConfig, metric: str = "l2",
                degree: int | None = None, exact_knn_max: int | None = None) -> pd.DataFrame:
    """The graph format's kernel (``ann.FORMATS["graph"]``): per-segment
    graph rows from flat rows, shared by the format build, the epochs and
    the merges on either transport. One row per (segment, layer): layer 0
    is the full kNN graph; layers ≥ 1 are deterministic 1/M stride samples
    with their own kNN sub-graphs (the multi-layer HNSW entry structure,
    ``createMultiLayerHnswGraph:101-117,176-229`` — built only for
    segments with ≥ ``upper_layers_min_nodes`` vectors, where the layered
    O(log n) descent beats the flat √n entry sweep). Cosine indexes build
    adjacency over unit-normalized vectors (L2-on-unit == cosine order)."""
    deg = degree or cfg.ann.graph_degree
    lstride = cfg.ann.upper_layer_stride
    lmin = cfg.ann.upper_layers_min_nodes
    nnd_iters = cfg.ann.nn_descent_iters
    seed = cfg.ann.seed

    def layer_row(seg, level: int, stride: int, sub: np.ndarray) -> tuple:
        """One (segment, layer) row: the kNN adjacency over ``sub``'s nodes
        (a single node has none — the B13 single-vector fallback)."""
        m = sub.shape[0]
        g = max(0, min(deg, m - 1))
        offs, blob = np.zeros(m + 1, "<u8").tobytes(), b""
        if m >= 2:
            offs, blob = _encode_adjacency(
                _knn_graph(sub, g, nnd_iters, seed, exact_knn_max)
            )
        return (seg, level, stride, m, g, offs, blob)

    rows = []
    for r in flat.itertuples(index=False):
        x = np.frombuffer(r.vectors, np.float32).reshape(r.n_vecs, r.dim)
        x = _nav_vectors(x, metric)
        n = x.shape[0]
        # O1 size-based algorithm switch (CagraIndexParamsFactory
        # heuristic): below the threshold the dense exact kNN graph
        # is the NN_DESCENT stand-in; at/above it the reference
        # routes the build through IVF_PQ — served here by the
        # ann_ivf/ann_pq sidecars, so oversized segments simply
        # skip the graph (search falls back per-leaf)
        if choose_build_algo(n) != "NN_DESCENT":
            continue
        rows.append(layer_row(r.segment_id, 0, 1, x))
        if n < lmin:
            continue
        for level in range(1, 5):
            s = lstride**level
            sample = np.arange(0, n, s, dtype=np.int64)
            if sample.size < max(8, lstride):
                break
            rows.append(layer_row(r.segment_id, level, s, x[sample]))
    return _rows(rows, GRAPH_SCHEMA)


@transactional
def build_ann_graph(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: IndexConfig | None = None,
    degree: int | None = None,
    exact_knn_max: int | None = None,
) -> None:
    """Build the per-segment graph sidecar from ``ann_flat`` with
    :func:`_graph_rows` (``ann._write_format``: in the driver while the
    flat rows fit ``ann.ANN_DRIVER_MAX_VALUES``, else on Spark).

    Blob layout per segment: ``offsets`` = little-endian uint64 cumulative
    byte offsets (n_nodes + 1 entries — the monotonic offset directory),
    ``graph`` = concatenated per-node varint blocks, each node's sorted
    neighbor ids delta-encoded (first value absolute). The table and its
    stage commit in one transaction."""
    _write_format(spark, cat, FORMATS["graph"], cfg or IndexConfig(),
                  degree=degree, exact_knn_max=exact_knn_max)


def _beam_search(
    x: np.ndarray,
    q: np.ndarray,
    offsets: np.ndarray,
    graph: bytes,
    k: int,
    ef: int,
    accept: np.ndarray | None = None,
    visited_limit: int | None = None,
    batch: int = 8,
    seed_nodes: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, bool]:
    """Batched best-first beam over one segment's graph →
    (node ids, squared L2, early_terminated).

    - The frontier expands up to ``batch`` nodes per iteration with ONE
      vectorized distance evaluation over all their unvisited neighbors —
      no per-neighbor Python heap operations in the hot loop.
    - ``accept``: optional bool mask over nodes; only accepted nodes enter
      the RESULT set, while navigation still crosses unaccepted nodes so a
      selective filter cannot disconnect the graph (Lucene's
      acceptDocs-in-collector semantics).
    - ``visited_limit``: max nodes scored (entry sweep included). On
      exhaustion the beam stops and reports early termination — the
      collector visit budget of ``GPUPerLeafCuVSKnnCollector.java:26-38`` /
      ``CuVS2510GPUVectorsReader.java:500-519``.
    - ``seed_nodes``: entry points from an upper-layer descent (replaces
      the √n stride sweep — the multi-layer HNSW entry path).
    """
    n = x.shape[0]
    x64 = x.astype(np.float64)
    q64 = q.astype(np.float64)
    budget = n if visited_limit is None else max(1, int(visited_limit))

    def dist(nodes: np.ndarray) -> np.ndarray:
        diff = x64[nodes] - q64[None, :]
        return np.einsum("ij,ij->i", diff, diff)

    if seed_nodes is not None:
        entry_nodes = np.unique(seed_nodes.astype(np.int64))
    else:
        # coarse-layer analogue: deterministic sqrt-stride entry sweep
        stride = max(1, int(n / max(np.sqrt(n), 1.0)))
        entry_nodes = np.arange(0, n, stride, dtype=np.int64)
    early = False
    if entry_nodes.size > budget:
        entry_nodes = entry_nodes[:budget]
        early = True
    ed = dist(entry_nodes)
    visited = np.zeros(n, dtype=bool)
    visited[entry_nodes] = True
    nvis = int(entry_nodes.size)

    # results hold ACCEPTED nodes only; frontier holds everything visited
    if accept is None:
        res_n, res_d = entry_nodes.copy(), ed.copy()
    else:
        m = accept[entry_nodes]
        res_n, res_d = entry_nodes[m], ed[m]
    cand_n, cand_d = entry_nodes.copy(), ed.copy()

    while cand_n.size and not early:
        bound = (
            np.partition(res_d, ef - 1)[ef - 1] if res_d.size >= ef else np.inf
        )
        b = min(batch, cand_n.size)
        pop = (
            np.argpartition(cand_d, b - 1)[:b] if cand_n.size > b
            else np.arange(cand_n.size)
        )
        pop_n, pop_d = cand_n[pop], cand_d[pop]
        live = pop_d <= bound
        if not live.any():
            break  # closest frontier nodes are all worse than the ef-th best
        keep = np.ones(cand_n.size, dtype=bool)
        keep[pop] = False
        cand_n, cand_d = cand_n[keep], cand_d[keep]
        # decode the popped nodes' neighbor lists (≤batch varint blocks)
        nbr_parts = []
        for node in pop_n[live]:
            lo, hi = int(offsets[node]), int(offsets[node + 1])
            if hi > lo:
                nbr_parts.append(
                    np.cumsum(varint_decode(graph[lo:hi]), dtype=np.int64)
                )
        if not nbr_parts:
            continue
        nbr = np.concatenate(nbr_parts)
        nbr = nbr[~visited[nbr]]
        if nbr.size == 0:
            continue
        nbr = np.unique(nbr)
        if nvis + nbr.size > budget:
            nbr = nbr[: budget - nvis]
            early = True
        if nbr.size == 0:
            break
        visited[nbr] = True
        nvis += nbr.size
        nd = dist(nbr)
        within = nd <= bound if np.isfinite(bound) else np.ones(nd.size, bool)
        cand_n = np.concatenate([cand_n, nbr[within]])
        cand_d = np.concatenate([cand_d, nd[within]])
        acc = within if accept is None else (within & accept[nbr])
        res_n = np.concatenate([res_n, nbr[acc]])
        res_d = np.concatenate([res_d, nd[acc]])
        # periodic compression keeps both sets O(ef)
        if cand_n.size > 4 * ef:
            topc = np.argpartition(cand_d, ef - 1)[:ef]
            cand_n, cand_d = cand_n[topc], cand_d[topc]
        if res_n.size > 4 * ef:
            topr = np.argpartition(res_d, ef - 1)[:ef]
            res_n, res_d = res_n[topr], res_d[topr]

    sel = np.lexsort((res_n, res_d))[:k]
    return res_n[sel], res_d[sel], early


def _graph_segment(ctx: _Query, ef: int):
    """Per-leaf graph search for the driver's cogroup with flat: the
    multi-layer entry descent (top layer first — each layer's beam seeds
    the next with its best nodes mapped through the stride, an O(log n)
    entry for big segments instead of the √n sweep), then the base-layer
    beam under acceptDocs and the visit budget. None — the driver's exact
    scan — for a segment with no graph row (oversized for the NN_DESCENT
    build, O1) or fewer than two vectors."""

    def segment(gp: pd.DataFrame, x_raw: np.ndarray, ids: np.ndarray, accept):
        if gp.empty or ids.size < 2:
            return None
        base_rows = gp[gp["layer"] == 0]
        if base_rows.empty:
            return ids[:0], np.empty(0)
        # navigation space: unit vectors for cosine indexes (graph edges
        # were built there); identical to raw for l2
        x = _nav_vectors(x_raw, ctx.metric)
        seeds = None
        for _, u in gp[gp["layer"] > 0].sort_values("layer", ascending=False).iterrows():
            s = int(u["stride"])
            sample = np.arange(int(u["n_nodes"]), dtype=np.int64) * s
            loc, _d, _e = _beam_search(
                x[sample], ctx.qn, np.frombuffer(u["offsets"], "<u8"),
                bytes(u["graph"]), k=4, ef=8,
                seed_nodes=None if seeds is None else seeds // s,
            )
            seeds = sample[loc]  # base-space ids, divisible by lower strides
        g = base_rows.iloc[0]
        nodes, d2, _early = _beam_search(
            x, ctx.qn, np.frombuffer(g["offsets"], "<u8"), bytes(g["graph"]),
            ctx.k, ef, accept=accept, visited_limit=ctx.budget, seed_nodes=seeds,
        )
        if ctx.metric == "l2":
            return ids[nodes], 1.0 / (1.0 + d2)  # S5 normalization (nav == raw)
        # beam ORDER is cosine order (unit space); rescore the k survivors
        # exactly from raw flat so returned scores are true cosine
        return ids[nodes], _scores(x_raw[nodes], ctx.q, ctx.metric)

    return segment


def ann_topk_graph(
    spark: SparkSession,
    cat: IndexCatalog,
    query: list[float] | np.ndarray,
    k: int = 10,
    cfg: IndexConfig | None = None,
    ef: int | None = None,
    filter_ext_ids=None,
    visited_limit: int | None = None,
    filter_mode: str = "auto",
    auto_ef: bool = False,
) -> DataFrame:
    """Graph top-k under the index's build metric (l2 or cosine):
    per-segment greedy beam → global top-k, in one cogroup with flat.
    ``ef`` defaults to ``max(k + overfetch, 64)`` (iTopK ≥ topK, O5).
    Filters and tombstones are acceptDocs in the collector: the beam
    navigates the full graph, only accepted nodes are collected (S10);
    ``visited_limit`` is the per-leaf visit budget (see the driver
    contract, ``ann._search``).

    ``auto_ef=True`` — recall-over-latency mode: the beam re-runs with a
    doubled ``ef`` until the returned top-k id set is STABLE between two
    consecutive widths (≤ 3 doublings, so worst case 8·ef). The
    escalation decision reads only the k result ids driver-side; the
    stable run's rows are returned. This is the knob for workloads where
    a recall miss costs more than an extra pass (the reference tunes the
    same trade through GPUSearchParams iTopK/searchWidth)."""
    cfg = cfg or IndexConfig()
    eff = ef or max(k + cfg.overfetch, 64)

    def plan(s) -> DataFrame:
        def topk(ef_: int) -> DataFrame:
            return s.top(s.cogroup(s.table("ann_graph"), _graph_segment(s.ctx, ef_)))

        if not auto_ef:
            return topk(eff)
        # recall escalation: double ef until the top-k id list is stable
        # between consecutive widths (≤ 3 doublings); only k ids cross the
        # driver per round, the stable run's rows are returned
        rows = topk(eff).collect()
        ef_cur = eff
        for _ in range(3):
            ef_cur *= 2
            nxt = topk(ef_cur).collect()
            stable = [r["ext_id"] for r in nxt] == [r["ext_id"] for r in rows]
            rows = nxt
            if stable:
                break
        return _topk_frame(
            spark, "score", [r["ext_id"] for r in rows], [r["score"] for r in rows]
        )

    return _search(
        spark, cat, query, k, filter_ext_ids, filter_mode, plan,
        visited_limit=visited_limit,
    )
