"""text_serve: read-only fulltext serving over a pre-built index with the
positions sidecar.

Closed loop, one client. Single queries rotate through ``ROTATION``
(``bm25_topk`` OR and AND, ``bm25_boolean_topk``, ``dismax_topk``,
``phrase_topk``, ``prefix_topk`` and ``fuzzy_topk``); their terms are
drawn by the corpus' own Zipf law over the whole vocabulary (so tail
terms take the scan path). A fixed-size ``bm25_topk_batch`` of head
terms, which the impact cache serves warm, follows every ``BATCH_AFTER``
single queries. ``ops`` runs one op per step and marks the end of each
whole cycle of the rotation, the only place a window may end, so every
run holds the same mix.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import ORACLE_MARGIN, Oracle, concurrently, mean, pct, rate, rows_of, same_topk

SPEC = gen.TextSpec(n_docs=1500, vocab_size=5000, zipf_s=1.1, tail_share=0.1)
BATCH = 16
BATCH_AFTER = 2
HEAD = 64
ORACLE_SAMPLE = 8
ROTATION = ("bm25.topk", "positions.phrase", "bm25.topk.and", "multiterm.prefix",
            "bm25.boolean", "multiterm.fuzzy", "bm25.dismax")


def index_cfg():
    from cuvs_lucene_spark.config import IndexConfig

    return IndexConfig(rows_per_segment=SPEC.n_docs // 4, block_size=128,
                       prune_range=1024, term_buckets=16)


def build(ctx, root: str):
    """Generate the corpus and build index + positions: the set-up unit."""
    from cuvs_lucene_spark.operators.positions import build_positions
    from cuvs_lucene_spark.operators.segments import build_index

    docs, vocab = gen.text_corpus(ctx.seed, SPEC)
    sdf = ctx.spark.createDataFrame(docs[["doc_id", "text"]]).repartition(4).cache()
    sdf.count()
    cat = build_index(ctx.spark, sdf, root, index_cfg(), content_col="text",
                      id_col="doc_id", resume=False)
    build_positions(ctx.spark, cat, sdf, index_cfg())
    sdf.unpersist()
    return docs, vocab, cat


class QueryGen:
    def __init__(self, seed: int, docs, vocab):
        self.rng = np.random.default_rng(seed + 7)
        self.docs, self.vocab = docs, vocab

    def terms(self, n: int) -> list[str]:
        return [str(self.vocab[r]) for r in gen.zipf_ranks(self.rng, SPEC, n)]

    def single(self, kind: str) -> dict:
        if kind == "bm25.topk":
            return {"terms": self.terms(int(self.rng.integers(2, 4)))}
        if kind == "bm25.topk.and":
            return {"terms": self.terms(2)}
        if kind == "bm25.boolean":
            t: list[str] = []
            while len(t) < 4:  # a term may sit in one clause list only
                t = list(dict.fromkeys(t + self.terms(4 - len(t))))
            return {"must": t[:1], "should": t[1:3], "exclude": t[3:]}
        if kind == "bm25.dismax":
            return {"terms": self.terms(3)}
        if kind == "positions.phrase":
            words = self.docs["text"].iat[int(self.rng.integers(len(self.docs)))].split()
            n = int(self.rng.integers(2, 4))
            i = int(self.rng.integers(0, len(words) - n))
            return {"phrase": words[i:i + n]}
        if kind == "multiterm.prefix":
            return {"prefix": self.terms(1)[0][:3]}
        t = list(self.terms(1)[0])
        t[int(self.rng.integers(len(t)))] = "z"
        return {"term": "".join(t)}

    def batch(self) -> dict:
        head = self.rng.integers(0, HEAD, size=(BATCH, 2))
        return {f"q{i}": {"terms": [str(self.vocab[a]), str(self.vocab[b])], "mode": "or", "k": 10}
                for i, (a, b) in enumerate(head)}


def run_query(spark, cat, cfg, kind: str, q: dict):
    from cuvs_lucene_spark.operators import bm25, multiterm, positions

    if kind == "bm25.topk":
        df = bm25.bm25_topk(spark, cat, q["terms"], k=10, cfg=cfg)
    elif kind == "bm25.topk.and":
        df = bm25.bm25_topk(spark, cat, q["terms"], k=10, mode="and", cfg=cfg)
    elif kind == "bm25.boolean":
        df = bm25.bm25_boolean_topk(spark, cat, must=q["must"], should=q["should"],
                                    exclude=q["exclude"], k=10, cfg=cfg)
    elif kind == "bm25.dismax":
        df = bm25.dismax_topk(spark, cat, q["terms"], tie_breaker=0.3, k=10, cfg=cfg)
    elif kind == "positions.phrase":
        df = positions.phrase_topk(spark, cat, q["phrase"], k=10, cfg=cfg)
    elif kind == "multiterm.prefix":
        df = multiterm.prefix_topk(spark, cat, q["prefix"], k=10, cfg=cfg)
    else:
        df = multiterm.fuzzy_topk(spark, cat, q["term"], k=10, max_edits=1, cfg=cfg)
    return df.collect()


def oracle_sql(kind: str, q: dict, k: int = 10 + ORACLE_MARGIN) -> str | None:
    from cuvs_lucene_spark import oracle

    if kind == "bm25.topk":
        return oracle.bm25_sql(q["terms"], k=k)
    if kind == "bm25.topk.and":
        return oracle.bm25_sql(q["terms"], k=k, mode="and")
    if kind == "bm25.boolean":
        return oracle.bm25_boolean_sql(must=q["must"], should=q["should"], exclude=q["exclude"], k=k)
    if kind == "bm25.dismax":
        return oracle.dismax_sql(q["terms"], tie_breaker=0.3, k=k)
    if kind == "positions.phrase":
        return oracle.phrase_bm25_sql(q["phrase"], k=k)
    return None  # prefix/fuzzy have no oracle in the package


def layer_of(kind: str) -> str:
    return "bm25.topk" if kind == "bm25.topk.and" else kind


class Part:
    """The text_serve part: set-up, closed-loop ops one per step, and the
    checks and metrics in ``finish``."""

    name = "text_serve"

    def __init__(self, ctx):
        self.ctx, self.cfg = ctx, index_cfg()
        self.singles, self.batches = [], []

    def setup(self) -> float:
        from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

        ctx, spark = self.ctx, self.ctx.spark
        t = time.perf_counter()
        self.docs, vocab, self.cat = build(ctx, os.path.join(ctx.work, "text-index"))
        self.build_s = time.perf_counter() - t
        ctx.check(not gen.out_of_bounds(gen.text_profile(self.docs), gen.text_bounds(SPEC)),
                  "text corpus outside its spec bounds")
        self.qg = QueryGen(ctx.seed, self.docs, vocab)
        # warm-up: one query of each kind and one batch, run side by side
        warm = [lambda k=k, q=self.qg.single(k): run_query(spark, self.cat, self.cfg, k, q)
                for k in ROTATION]
        batch = self.qg.batch()
        warm.append(lambda: bm25_topk_batch(spark, self.cat, batch, self.cfg).collect())
        concurrently(warm)
        return time.perf_counter() - t

    def ops(self):
        """Cycles of the rotation with their batches, one op per step;
        yields True after the last op of a cycle."""
        from cuvs_lucene_spark.operators.bm25 import bm25_topk_batch

        ctx, spark, cat, cfg = self.ctx, self.ctx.spark, self.cat, self.cfg
        while True:
            for i, kind in enumerate(ROTATION, 1):
                q = self.qg.single(kind)
                rows, dt = ctx.op(layer_of(kind), lambda: run_query(spark, cat, cfg, kind, q))
                self.singles.append((kind, q, rows, dt))
                if i % BATCH_AFTER == 0:
                    yield False
                    spec = self.qg.batch()
                    rows, dt = ctx.op("bm25.batch",
                                      lambda: bm25_topk_batch(spark, cat, spec, cfg).collect())
                    self.batches.append((spec, rows, dt))
                yield i == len(ROTATION)

    def finish(self) -> dict:
        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed + 11)
        checkable = [s for s in self.singles if s[2] is not None and oracle_sql(s[0], s[1])]
        pick = rng.choice(len(checkable), size=min(ORACLE_SAMPLE, len(checkable)), replace=False)
        done = [b for b in self.batches if b[1] is not None]
        orc = Oracle(self.docs)
        try:
            for i in sorted(pick):
                kind, q, rows, _ = checkable[i]
                ctx.check(same_topk(rows_of(rows), orc.topk(oracle_sql(kind, q))),
                          f"{kind} {q} differs from the oracle")
            # batch rows against the oracle SQL the single bm25_topk
            # queries are held to, so a batch query and the same single
            # query agree
            for spec, rows, _ in done[:1]:
                for qid in sorted(spec)[:2]:
                    got = rows_of([r for r in rows if r["query_id"] == qid])
                    want = orc.topk(oracle_sql("bm25.topk", spec[qid]))
                    ctx.check(same_topk(got, want), f"batch {qid} differs from the oracle")
        finally:
            orc.close()
        lat = [1000 * s[3] for s in self.singles if s[2] is not None]
        # the median batch: the batch that follows a heavy op of the other
        # part pays for that op's clean-up
        batch_qps = rate(BATCH, pct([b[2] for b in done], 50))
        return {
            "report": {"query_mean_ms": mean(lat),
                       "query_p50_ms": pct(lat, 50), "query_p90_ms": pct(lat, 90),
                       "queries": len(lat), "batch_qps": batch_qps, "batches": len(done),
                       "build_docs_per_s": SPEC.n_docs / self.build_s},
            "queries_ms": lat,
            "batch_qps": batch_qps,
        }
