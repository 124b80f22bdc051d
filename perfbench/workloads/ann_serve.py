"""ann_serve: per-segment vector index builds, then vector search.

The vectors are Gaussian blobs (``gen.clustered_vectors``), so IVF lists
and graph neighbourhoods have structure and recall@10 means something.
The four sidecar builds (flat+IVF+SQ, PQ, IVF-PQ, graph) are part of
the set-up and timed one by one. The closed loop then rotates single
``ann_topk`` queries through the exact, ivf, sq, pq, ivfpq and graph
modes plus a filtered ivf query, with a ``knn_join_ivf`` batch after
every ``BATCH_AFTER`` single queries. ``ops`` runs one op per step and
marks the end of each whole cycle of the rotation, the only place a
window may end, so every run holds the same mix.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import concurrently, mean, pct, rate

SPEC = gen.VectorSpec(n_vecs=2000, dim=64, n_clusters=32, spread=1.0)
ROWS_PER_SEGMENT = 500
# segments below the exact-graph cap would get an exact kNN graph; a
# lower cap makes them take the NN-descent path, whose recall is < 1
GRAPH_DEGREE = 16
EXACT_KNN_MAX = 256
BATCH = 32
BATCH_AFTER = 2
K = 10
MODES = ("exact", "ivf", "sq", "pq", "ivfpq", "graph", "filtered")
LAYER = {"exact": "ann.exact", "ivf": "ann.ivf", "sq": "ann.sq", "pq": "ann.pq",
         "ivfpq": "ann.ivfpq", "graph": "ann_graph.search", "filtered": "ann.ivf"}
BUILDS = (("ann.build.flat", "flat"), ("ann.build.pq", "pq"),
          ("ann.build.ivfpq", "ivfpq"), ("ann_graph.build", "graph"))


def build_step(spark, which: str, vdf, root: str, cat, cfg):
    from cuvs_lucene_spark.operators import ann, ann_graph

    if which == "flat":
        return ann.build_ann(spark, vdf, root, cfg, id_col="vec_id", vector_col="embedding",
                             rows_per_segment=ROWS_PER_SEGMENT)
    if which == "pq":
        ann.build_ann_pq(spark, cat, cfg)
    elif which == "ivfpq":
        ann.build_ann_ivfpq(spark, cat, cfg)
    else:
        ann_graph.build_ann_graph(spark, cat, cfg, degree=GRAPH_DEGREE,
                                  exact_knn_max=EXACT_KNN_MAX)
    return cat


def search(spark, cat, cfg, mode: str, q: np.ndarray, allowed: set | None):
    from cuvs_lucene_spark.operators import ann, ann_graph

    if mode in ("exact", "ivf"):
        df = ann.ann_topk(spark, cat, q, k=K, cfg=cfg, mode=mode)
    elif mode == "filtered":
        df = ann.ann_topk(spark, cat, q, k=K, cfg=cfg, mode="ivf", filter_ext_ids=allowed)
    elif mode == "sq":
        df = ann.ann_topk_sq(spark, cat, q, k=K, cfg=cfg)
    elif mode == "pq":
        df = ann.ann_topk_pq(spark, cat, q, k=K, cfg=cfg)
    elif mode == "ivfpq":
        df = ann.ann_topk_ivfpq(spark, cat, q, k=K, cfg=cfg)
    else:
        df = ann_graph.ann_topk_graph(spark, cat, q, k=K, cfg=cfg)
    return [int(r["ext_id"]) for r in df.collect()]


def truth(vecs: np.ndarray, q: np.ndarray, allowed: np.ndarray | None = None):
    """(ids, squared distances) of the exact top-K by numpy brute force."""
    d = ((vecs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(1)
    if allowed is not None:
        d = np.where(allowed, d, np.inf)
    top = np.argsort(d, kind="stable")[:K]
    return top, d


class Part:
    name = "ann_serve"

    def __init__(self, ctx):
        from cuvs_lucene_spark.config import IndexConfig

        self.ctx, self.cfg = ctx, IndexConfig()
        self.singles, self.batches = [], []
        self.build_s: dict[str, float] = {}

    def _vdf(self, vecs):
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64),
                            "embedding": vecs.astype(np.float32).tolist()})
        return self.ctx.spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

    def setup(self) -> float:
        ctx, spark = self.ctx, self.ctx.spark
        t = time.perf_counter()
        self.vecs, centers = gen.clustered_vectors(ctx.seed, SPEC)
        ctx.check(not gen.out_of_bounds(gen.vector_profile(self.vecs, centers),
                                        gen.vector_bounds(SPEC)),
                  "vectors outside their spec bounds")
        self.queries, _ = gen.clustered_vectors(ctx.seed + 1, SPEC, n=4096, centers=centers)
        rng = np.random.default_rng(ctx.seed + 2)
        self.allowed_mask = rng.random(SPEC.n_vecs) < 0.5
        self.allowed = set(np.flatnonzero(self.allowed_mask).tolist())
        vdf = self._vdf(self.vecs).cache()
        vdf.count()
        cat = None
        for layer, which in BUILDS:
            cat, dt = ctx.op(layer, lambda: build_step(spark, which, vdf,
                                                       os.path.join(ctx.work, "ann"), cat, self.cfg))
            self.build_s[layer] = dt
        vdf.unpersist()
        self.cat = cat
        # warm-up: every search path once, side by side
        warm = [lambda m=m: search(spark, cat, self.cfg, m, self.queries[0], self.allowed)
                for m in MODES]
        warm.append(lambda: self._knn(cat, 0, 4).collect())
        concurrently(warm)
        self.qi = 4
        return time.perf_counter() - t

    def _knn(self, cat, start: int, n: int):
        import pandas as pd

        from cuvs_lucene_spark.operators.ann import knn_join_ivf

        qs = self.queries[start:start + n]
        qdf = self.ctx.spark.createDataFrame(
            pd.DataFrame({"q_id": np.arange(start, start + n, dtype=np.int64),
                          "q_vec": qs.astype(np.float32).tolist()}),
            "q_id long, q_vec array<float>")
        return knn_join_ivf(self.ctx.spark, cat, qdf, k=K)

    def ops(self):
        """Cycles of the rotation with their batches, one op per step;
        yields True after the last op of a cycle."""
        ctx = self.ctx
        while True:
            for i, mode in enumerate(MODES, 1):
                qi = self.qi
                self.qi += 1
                ids, dt = ctx.op(LAYER[mode], lambda: search(ctx.spark, self.cat, self.cfg, mode,
                                                              self.queries[qi], self.allowed))
                self.singles.append((mode, qi, ids, dt))
                if i % BATCH_AFTER == 0:
                    yield False
                    start = self.qi
                    self.qi += BATCH
                    rows, dt = ctx.op("ann.knn_join",
                                      lambda: self._knn(self.cat, start, BATCH).collect())
                    self.batches.append((start, rows, dt))
                yield i == len(MODES)

    def finish(self) -> dict:
        ctx = self.ctx
        recall: dict[str, list[float]] = {}
        for mode, qi, ids, _ in self.singles:
            if ids is None:
                continue
            filt = self.allowed_mask if mode == "filtered" else None
            top, d = truth(self.vecs, self.queries[qi], filt)
            recall.setdefault(mode, []).append(len(set(ids) & set(top.tolist())) / K)
            if mode == "exact":
                # equal distances, so a tie at rank K may pick either id
                got = np.sort(d[np.asarray(ids, dtype=np.int64)]) if len(ids) == K else None
                ctx.check(got is not None and np.allclose(got, d[top], rtol=1e-4, atol=1e-6),
                          f"exact ann_topk of query {qi} differs from numpy brute force")
            if mode == "filtered":
                ctx.check(set(ids) <= self.allowed, f"filtered query {qi} returned a filtered-out id")
        done = [b for b in self.batches if b[1] is not None]
        join_recall = []
        for start, rows, _ in done:
            by_q: dict[int, list[int]] = {}
            for r in rows:
                by_q.setdefault(int(r["q_id"]), []).append(int(r["vec_id"]))
            ctx.check(len(by_q) == BATCH and all(len(v) == K for v in by_q.values()),
                      f"knn_join batch at {start} did not return {K} rows per query")
            for q, ids in by_q.items():
                top, _ = truth(self.vecs, self.queries[q])
                join_recall.append(len(set(ids) & set(top.tolist())) / K)
        approx = [r for m, rs in recall.items() if m not in ("exact", "filtered") for r in rs]
        for m in ("ivf", "sq", "pq", "ivfpq", "graph"):
            ctx.layer_extra[f"ann.{m}.recall_at_10"] = float(np.mean(recall.get(m, [0.0])))
        lat = [1000 * s[3] for s in self.singles if s[2] is not None]
        # the median batch, as in text_serve
        batch_qps = rate(BATCH, pct([b[2] for b in done], 50))
        return {
            "report": {
                "query_mean_ms": mean(lat),
                "query_p50_ms": pct(lat, 50), "query_p90_ms": pct(lat, 90), "queries": len(lat),
                "batch_qps": batch_qps, "batches": len(done),
                "ann_build_vecs_per_s": rate(SPEC.n_vecs, sum(self.build_s.values())),
                "recall_at_10": float(np.mean(approx)) if approx else float("nan"),
                "recall_at_10_by_mode": {m: float(np.mean(v)) for m, v in recall.items()},
                "knn_join_recall_at_10": float(np.mean(join_recall)) if join_recall else float("nan"),
                "build_s": self.build_s,
            },
            "queries_ms": lat,
            "batch_qps": batch_qps,
        }
