"""dedup_prep: the training-data preparation job on a generated corpus.

The corpus (``gen.dedup_corpus``) plants an exact-duplicate cluster of
license headers, near-duplicate edits and an eval slice whose 12-token
spans are copied into training docs. Every run makes one full pass of
``jobs/prepare_training_data.py``. The traced run then makes one
standalone call of each dedup and textstats stage, after the window, so
it can attribute cost to each; untraced runs skip them, since they would
add about 9 s to a run and move no end-to-end metric (see README.md).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import time

import numpy as np

import gen
from common import rate

SPEC = gen.DedupSpec(n_base=800, n_license=80, n_near_pairs=25, n_eval=60, n_contam=15)
JOB_ARGS = ["--eval-pred", "is_eval", "--mix", "en=0.9", "fr=0.5", "zh=0.25"]
STAGES = ("prep.job", "dedup.exact", "dedup.minhash_lsh", "dedup.simhash_near_dup",
          "dedup.components", "dedup.contamination", "textstats.quality",
          "textstats.repetition")


def load_job(root: str):
    spec = importlib.util.spec_from_file_location(
        "prepare_training_data", os.path.join(root, "jobs", "prepare_training_data.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def shingles(text: str, n: int = 3) -> set[str]:
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


class Part:
    name = "dedup_prep"

    def __init__(self, ctx):
        self.ctx = ctx
        self.out: dict[str, list] = {s: [] for s in STAGES}

    def setup(self) -> float:
        ctx = self.ctx
        t = time.perf_counter()
        self.pdf, self.planted = gen.dedup_corpus(ctx.seed, SPEC)
        self.input = os.path.join(ctx.work, "dedup", "documents.parquet")
        os.makedirs(os.path.dirname(self.input))
        self.pdf.to_parquet(self.input, index=False)
        self.output = os.path.join(ctx.work, "dedup", "train")
        self.job = load_job(os.getcwd())
        # no warm-up: a preparation job runs once in a fresh driver, so
        # its first, cold pass is the one users wait for
        return time.perf_counter() - t

    def call(self, stage: str):
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.functions import textstats
        from cuvs_lucene_spark.operators import dedup

        spark = self.ctx.spark
        if stage == "prep.job":
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                self.job.main(["--input", self.input, "--output", self.output, *JOB_ARGS])
            spark.sparkContext.setLogLevel("ERROR")
            return json.loads(buf.getvalue().strip().splitlines()[-1])["funnel"]
        docs = self.docs  # cached by traced_extra
        if stage == "dedup.exact":
            return [(int(r["keep_id"]), list(r["dup_ids"])) for r in dedup.exact_dedup(docs).collect()]
        if stage == "dedup.minhash_lsh":
            return [(int(r[0]), int(r[1])) for r in dedup.minhash_lsh_candidates(docs).collect()]
        if stage == "dedup.simhash_near_dup":
            return [(int(r[0]), int(r[1])) for r in dedup.simhash_near_dup(docs).collect()]
        if stage == "dedup.components":
            pairs = spark.createDataFrame(self.pairs, "id_a long, id_b long")
            return {int(r["id"]): int(r["component"])
                    for r in dedup.duplicate_components(pairs, all_ids=docs.select("doc_id")).collect()}
        if stage == "dedup.contamination":
            res = dedup.ngram_contamination(train=docs.filter(~F.col("is_eval")),
                                            evals=docs.filter(F.col("is_eval")), n=5)
            return sorted(int(r[0]) for r in res.filter("contaminated").collect())
        # aggregate a computed column: a bare count() lets Spark prune the
        # columns the stage computes and skip its work
        if stage == "textstats.quality":
            return textstats.quality_score(docs).agg(F.sum("quality")).collect()[0][0]
        return (textstats.repetition_stats(docs, n=2)
                .agg(F.sum(F.col("repetitive").cast("int"))).collect()[0][0])

    @property
    def pairs(self):
        # components run over the planted near pairs and the license
        # cluster as a chain, so its input is fixed and its answer known
        lic = self.planted["license_ids"]
        return self.planted["near_pairs"] + list(zip(lic[:-1], lic[1:]))

    def ops(self):
        """One pass of the prep job; no step ends a cycle."""
        self._run("prep.job")
        yield False

    def traced_extra(self) -> None:
        """Traced runs only, after the window: each dedup and textstats
        stage once on its own."""
        self.docs = self.ctx.spark.read.parquet(self.input).cache()
        self.docs.count()
        for stage in STAGES[1:]:
            self._run(stage)

    def _run(self, stage: str) -> None:
        res, dt = self.ctx.op(stage, lambda: self.call(stage))
        if res is not None:
            self.out[stage].append((res, dt))

    def finish(self) -> dict:
        ctx, planted = self.ctx, self.planted
        lic = planted["license_ids"]
        lic_pairs = {(a, b) for i, a in enumerate(lic) for b in lic[i + 1:]}
        near = set(planted["near_pairs"])
        for res, _ in self.out["dedup.exact"][:1]:
            ctx.check([g for g in res if g[0] == lic[0]] == [(lic[0], lic)],
                      "exact_dedup did not recover the license cluster")
        for res, _ in self.out["dedup.minhash_lsh"][:1]:
            got = set(res)
            ctx.check(lic_pairs <= got, "minhash_lsh missed license pairs")
            ctx.check(len(near & got) >= 0.8 * len(near), "minhash_lsh recall of near pairs < 0.8")
            text = dict(zip(self.pdf["doc_id"].tolist(), self.pdf["text"].tolist()))
            sh = {}

            def jac(a, b):
                sa = sh.setdefault(a, shingles(text[a]))
                sb = sh.setdefault(b, shingles(text[b]))
                return len(sa & sb) / max(1, len(sa | sb))

            true = sum(jac(a, b) >= 0.5 for a, b in res)
            ctx.layer_extra["dedup.lsh.true_pairs_per_candidate"] = true / max(1, len(res))
        for res, _ in self.out["dedup.simhash_near_dup"][:1]:
            ctx.check(lic_pairs <= set(res), "simhash_near_dup missed license pairs")
        for res, _ in self.out["dedup.components"][:1]:
            ctx.check(all(res.get(i) == lic[0] for i in lic), "components split the license cluster")
            ctx.check(all(res.get(b) == res.get(a) for a, b in near),
                      "components split a near pair")
        for res, _ in self.out["dedup.contamination"][:1]:
            ctx.check(set(planted["contam_ids"]) <= set(res), "contamination missed planted spans")
        if self.out["prep.job"]:
            self._check_job()
        job_s = [dt for _, dt in self.out["prep.job"]]
        stage_ms = [1000 * dt for s in STAGES[1:] for _, dt in self.out[s]]
        docs = (len(self.pdf) * len(job_s), sum(job_s))
        return {
            "report": {
                "prep_docs_per_s": rate(*docs),
                "prep_passes": len(job_s),
                "stage_p50_ms": float(np.median(stage_ms)) if stage_ms else float("nan"),
                "stage_calls": len(stage_ms),
                "funnel": self.out["prep.job"][-1][0] if job_s else None,
            },
            "docs": docs,
        }

    def _check_job(self) -> None:
        dec = self.ctx.spark.read.parquet(self.output + "_decisions").toPandas().set_index("doc_id")
        lic = self.planted["license_ids"]
        ok = dec.loc[lic, "exact_keep"].tolist() == [True] + [False] * (len(lic) - 1)
        self.ctx.check(ok, "prep job kept more than one license header")
        drop = [b for _, b in self.planted["near_pairs"]]
        self.ctx.check(not dec.loc[drop, "near_keep"].any(), "prep job kept a planted near duplicate")
        bad = self.planted["contam_ids"] + self.planted["eval_ids"]
        self.ctx.check(not dec.loc[bad, "decontam_keep"].any(),
                       "prep job kept a contaminated or eval doc")
