"""ingest_churn: writes beside reads.

Each run starts with a bulk ``build_index`` of the base corpus. Then come
epochs: an ``incremental_add`` of ``EPOCH_DOCS`` new documents (a segment
smaller than ``rows_per_segment``) and a ``delete_docs`` of a seeded
sample of the ingested ids. ``FRESH`` queries run right after every
commit, when the stats, norms and impact caches have just been
invalidated; each is checked against the oracle over the documents live
at that commit. Every run makes the build and ``EPOCHS`` epochs, no more
and no fewer, one op per step of ``ops``.

In the traced run one tiered ``merge_segments`` follows the epoch, after
the window: the base ends in a partial segment, so ``pick_merge_groups``
pairs it with the epoch's small segment. Untraced runs skip it, because
one merge of those two small segments takes 17-25 s on 4 cores, more
than a run can hold (see README.md).
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import ORACLE_MARGIN, Oracle, pct, rows_of, same_topk

# 3 full segments and a partial fourth one of 250 docs
SPEC = gen.TextSpec(n_docs=1750, vocab_size=6000, zipf_s=1.1, tail_share=0.1)
ROWS_PER_SEGMENT = 500
EPOCH_DOCS = 150
EPOCHS = 1
DELETES = 15
FRESH = 1


def index_cfg():
    from cuvs_lucene_spark.config import IndexConfig

    return IndexConfig(rows_per_segment=ROWS_PER_SEGMENT, block_size=128,
                       prune_range=1024, term_buckets=16)


def dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Part:
    name = "ingest_churn"

    def __init__(self, ctx):
        self.ctx, self.cfg = ctx, index_cfg()
        # (terms, rows, seconds, ids deleted then, first id not yet added)
        self.fresh: list[tuple] = []
        self.secs = {"build": 0.0, "add": 0.0, "delete": 0.0, "fresh": 0.0,
                     "merge": 0.0, "merge_fresh": 0.0}
        self.epochs = self.added = self.merged = 0
        self.merge_terms, self.merge_amp = [], []

    def setup(self) -> float:
        t = time.perf_counter()
        self.docs, self.vocab = gen.text_corpus(self.ctx.seed, SPEC)
        self.ctx.check(not gen.out_of_bounds(gen.text_profile(self.docs), gen.text_bounds(SPEC)),
                       "base corpus outside its spec bounds")
        self.rng = np.random.default_rng(self.ctx.seed + 3)
        self.root = os.path.join(self.ctx.work, "churn")
        self.all_docs = [self.docs]
        self.live = set(self.docs["doc_id"].tolist())
        self.ingested: list[int] = []
        self.deleted: set[int] = set()
        return time.perf_counter() - t

    def _sdf(self, pdf):
        return self.ctx.spark.createDataFrame(pdf[["doc_id", "text"]])

    def _epoch_docs(self, e: int):
        spec = gen.TextSpec(EPOCH_DOCS, SPEC.vocab_size, SPEC.zipf_s, SPEC.tail_share)
        docs, _ = gen.text_corpus(self.ctx.seed * 1000 + e + 1, spec,
                                  id_base=SPEC.n_docs + e * EPOCH_DOCS, vocab=self.vocab)
        return docs

    def _op(self, kind: str, layer: str, fn, **extra):
        out, dt = self.ctx.op(layer, fn, **extra)
        if dt == dt:  # a failed op reads NaN and counts no time
            self.secs[kind] += dt
        return out, dt

    def _fresh(self, kind: str = "fresh") -> None:
        from cuvs_lucene_spark.operators.bm25 import bm25_topk

        for _ in range(FRESH):
            terms = [str(self.vocab[r]) for r in gen.zipf_ranks(self.rng, SPEC, 2)]
            rows, dt = self._op(kind, "bm25.topk", lambda: bm25_topk(
                self.ctx.spark, self.cat, terms, k=10, cfg=self.cfg).collect(), fresh=True)
            if rows is not None:
                self.fresh.append((terms, rows, dt, sorted(self.deleted),
                                   SPEC.n_docs + self.added))

    def ops(self):
        """The build, then ``EPOCHS`` epochs; one op per step, and no step
        ends a cycle (the schedule runs to its end)."""
        from cuvs_lucene_spark.operators.deletes import delete_docs
        from cuvs_lucene_spark.operators.segments import build_index
        from cuvs_lucene_spark.streaming.ingest import incremental_add

        spark, cfg = self.ctx.spark, self.cfg
        sdf = self._sdf(self.docs).repartition(4).cache()
        sdf.count()
        self.cat, _ = self._op("build", "segments.build", lambda: build_index(
            spark, sdf, self.root, cfg, content_col="text", id_col="doc_id", resume=False))
        sdf.unpersist()
        yield False
        while self.epochs < EPOCHS:
            e = self.epochs
            self.epochs += 1
            docs = self._epoch_docs(e)
            esdf = self._sdf(docs)
            self._op("add", "ingest.epoch", lambda: incremental_add(
                spark, self.cat, esdf, cfg, epoch=e, content_col="text", id_col="doc_id"))
            self.added += len(docs)
            self.all_docs.append(docs)
            self.live |= set(docs["doc_id"].tolist())
            self.ingested += docs["doc_id"].tolist()
            yield False
            self._fresh()
            yield False
            # deletes stay in ingested docs: a delete in a settled base
            # segment would put it under delete pressure and into the merge
            cand = sorted(set(self.ingested) - self.deleted)
            dead = sorted(int(i) for i in self.rng.choice(cand, size=DELETES, replace=False))
            ddf = spark.createDataFrame([(i,) for i in dead], "ext_id long")
            self._op("delete", "deletes", lambda: delete_docs(spark, self.cat, ddf))
            self.live -= set(dead)
            self.deleted |= set(dead)
            yield False
            self._fresh()
            yield False

    def traced_extra(self) -> None:
        """Traced runs only, after the window: one tiered merge and a fresh
        query after it."""
        self._merge()
        self._fresh("merge_fresh")

    def _merge(self) -> None:
        from cuvs_lucene_spark.operators.merge import merge_segments, pick_merge_groups

        ctx, spark, cat, cfg = self.ctx, self.ctx.spark, self.cat, self.cfg
        seg_docs = {int(r["segment_id"]): int(r["n_docs"])
                    for r in cat.read(spark, "segment_stats").collect()}
        # what the merge will take, measured before it runs (the policy
        # is deterministic, so the op picks the same groups)
        from pyspark.sql import functions as F

        segs = [s for g in pick_merge_groups(spark, cat, cfg) for s in g]
        terms = (cat.read(spark, "terms").filter(F.col("segment_id").isin(segs))
                 .select("term").distinct().count())
        before = dir_bytes(self.root)

        def merge():
            groups = pick_merge_groups(spark, cat, cfg)
            if groups:
                merge_segments(spark, cat, cfg, groups=groups)
            return groups

        groups, _ = self._op("merge", "merge", merge)
        ctx.check(bool(groups), "tiered merge policy found nothing to merge")
        if not groups:
            return
        n = sum(seg_docs.get(s, 0) for g in groups for s in g)
        self.merged += n
        after = dir_bytes(self.root)
        written = sum(b for p, b in after.items() if p not in before)
        live = sum(b for p, b in after.items() if "/_commits/" not in p)
        self.merge_terms.append(terms)
        self.merge_amp.append(written / (live * n / max(1, len(self.live))))

    def finish(self) -> dict:
        import pandas as pd

        from cuvs_lucene_spark import oracle
        from cuvs_lucene_spark.operators.deletes import live_doc_map

        ctx = self.ctx
        ctx.check(live_doc_map(ctx.spark, self.cat).count() == len(self.live),
                  "live doc count differs from base + epochs - deletes")
        orc = Oracle(pd.concat(self.all_docs, ignore_index=True))
        try:
            # each fresh query against the documents live at its commit:
            # oracle stats are over live docs, so later and deleted docs
            # are left out
            for terms, rows, _, dead, limit in self.fresh:
                gone = f"doc_id >= {limit}"
                if dead:
                    gone += f" OR doc_id IN ({', '.join(map(str, dead))})"
                want = orc.topk(oracle.bm25_sql(terms, k=10 + ORACLE_MARGIN, delete_pred=gone))
                ctx.check(same_topk(rows_of(rows), want),
                          f"fresh query {terms} differs from the oracle")
        finally:
            orc.close()
        if self.merge_terms:
            ctx.layer_extra["merge.unique_terms_merged"] = float(np.mean(self.merge_terms))
            ctx.layer_extra["merge.bytes_written_per_live_byte"] = float(np.mean(self.merge_amp))
        s = self.secs
        lat = [1000 * f[2] for f in self.fresh]
        ingest_s = s["add"] + s["delete"]
        return {
            "report": {
                "build_docs_per_s": SPEC.n_docs / s["build"],
                "ingest_docs_per_s": self.added / ingest_s if ingest_s else float("nan"),
                "merge_docs_per_s": self.merged / s["merge"] if s["merge"] else float("nan"),
                "fresh_query_p50_ms": pct(lat, 50), "fresh_query_p90_ms": pct(lat, 90),
                "fresh_queries": len(lat), "epochs": self.epochs,
                "docs_added": self.added, "docs_merged": self.merged,
                "docs_deleted": len(self.deleted), "seconds": s,
            },
            # write time only: the fresh reads have their own latency, and
            # the merge (traced runs only) stays out so both runs compare
            "docs": (SPEC.n_docs + self.added, s["build"] + s["add"] + s["delete"]),
        }
