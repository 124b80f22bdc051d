"""Dump the (ext_id, score) lists of every public ANN search, and the
(q_id, rank, vec_id, score) rows of ``knn_join_ivf`` batches, over small
generated indexes, so two checkouts can be compared result for result.

Indexes: an L2 index with every sidecar (flat, ids, SQ, BQ, IVF, PQ,
IVF-PQ, graph), searched in every mode, and a cosine index with the
default sidecars, searched exact and IVF; each of 8,001
8-d vectors rounded to one decimal (many equal distances, so the tie rule
is exercised) in segments of 4,000 / 4,000 / 1: two IVF lists per indexed
segment and one B2 segment with no IVF index.

Scenarios: no filter, a small set filter, a small DataFrame filter and a
DataFrame filter over the broadcast cap (``FILTER_BROADCAST_MAX`` patched
to 0, the per-segment blob tier); each fresh, after a delete (tombstones,
no auto-merge) and after a merge of segments 0 and 1 (no compaction,
then a further delete). The single searches run two queries (one is the
B2 vector) per scenario, the small DataFrame filter excepted (after its
head read it is the set filter's closure tier); the joins run a batch of
9 queries (a duplicate q_id, a B2 vector, a deleted vector) in every
``probe_mode``, plus ``nprobe=1``. Scores are written as
``float.hex`` so the comparison is bit for bit.

The tier axis: ``--tier resident`` (the default budget) or ``--tier
spark`` (``resident.RESIDENT_MAX_BYTES`` set to 0, so every search and
join runs on the Spark tier). A checkout without a resident join tier
dumps its Spark tier for the joins either way; diff each tier's dump
against it and the two tiers against each other.

The flush axis: ``--flush driver`` (the default) raises
``ann.ANN_DRIVER_MAX_VALUES`` and ``segments.DRIVER_FLUSH_MAX_DOCS`` over
the 8,001 × 8 index, so its build, format builds and epochs run in the
driver; ``--flush spark`` sets ``ann.ANN_DRIVER_MAX_VALUES`` to 0, so
they run on Spark. A checkout without the driver tier runs its Spark
writes for either ``--flush``. Merges and deletes run on Spark either way.

Usage (from the repo root of each checkout):
    python tools/compare_ann.py dump OUT.json [--tier resident|spark] [--flush driver|spark]
    python tools/compare_ann.py diff A.json B.json [--skip SUBSTR ...]
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N, DIM, RPS, K = 8001, 8, 4000, 7
QUERIES = [5, 8000]  # the last is the B2 segment's vector
JOIN_QUERIES = [(0, 5), (1, 17), (1, 4100), (2, 8000), (3, 14), (4, 7000), (5, 2222),
                (6, 3999), (7, 4000)]
PROBE_MODES = ("auto", "driver", "distributed", "shuffle")


def _topk_calls(spark, cat, cfg, q, filt, full: bool):
    from cuvs_lucene_spark.operators import ann as A
    from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph

    f = {"filter_ext_ids": filt}
    fm = {**f, "metric": cfg.ann.metric}
    calls = {
        "exact": lambda: A.ann_topk(spark, cat, q, k=K, cfg=cfg, mode="exact", **fm),
        "ivf": lambda: A.ann_topk(spark, cat, q, k=K, cfg=cfg, mode="ivf", **fm),
        "ivf_nprobe1": lambda: A.ann_topk(spark, cat, q, k=K, cfg=cfg, mode="ivf", nprobe=1, **fm),
    }
    if full:
        calls.update({
            "sq": lambda: A.ann_topk_sq(spark, cat, q, k=K, cfg=cfg, **f),
            "bq": lambda: A.ann_topk_bq(spark, cat, q, k=K, cfg=cfg, **f),
            "bq_rerank": lambda: A.ann_topk_bq(spark, cat, q, k=K, cfg=cfg, rerank_factor=2, **f),
            "pq": lambda: A.ann_topk_pq(spark, cat, q, k=K, cfg=cfg, **f),
            "ivfpq": lambda: A.ann_topk_ivfpq(spark, cat, q, k=K, cfg=cfg, **f),
            "graph": lambda: ann_topk_graph(spark, cat, q, k=K, cfg=cfg, **f),
            "graph_auto_ef": lambda: ann_topk_graph(
                spark, cat, q, k=K, cfg=cfg, ef=8, auto_ef=True, **f),
        })
    return calls


def _join_calls(spark, cat, qdf, filt):
    from cuvs_lucene_spark.operators.ann import knn_join_ivf

    f = {"filter_ext_ids": filt}
    calls = {f"join_{pm}": (lambda pm=pm: knn_join_ivf(spark, cat, qdf, k=K, probe_mode=pm, **f))
             for pm in PROBE_MODES}
    calls["join_nprobe1"] = lambda: knn_join_ivf(spark, cat, qdf, k=K, nprobe=1, **f)
    return calls


def _topk_rows(df):
    rows = [(int(r[0]), float(r[1])) for r in df.collect()]
    return [[e, s.hex()] for e, s in sorted(rows, key=lambda x: (-x[1], x[0]))]


def _join_rows(df):
    return sorted([r["q_id"], r["rank"], r["vec_id"], float(r["score"]).hex()]
                  for r in df.collect())


def dump(out_path: str, tier: str = "resident", flush: str = "driver") -> None:
    import numpy as np
    from pyspark.sql import SparkSession

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.operators import ann as A
    from cuvs_lucene_spark.operators import resident, segments
    from cuvs_lucene_spark.operators.ann_graph import build_ann_graph

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("compare_ann")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if tier == "spark":
        resident.RESIDENT_MAX_BYTES = 0
    elif tier != "resident":
        raise ValueError(f"unknown tier {tier!r}; expected resident or spark")
    if flush == "driver":
        A.ANN_DRIVER_MAX_VALUES = max(getattr(A, "ANN_DRIVER_MAX_VALUES", 0), N * DIM)
        segments.DRIVER_FLUSH_MAX_DOCS = max(segments.DRIVER_FLUSH_MAX_DOCS, N)
    elif flush == "spark":
        A.ANN_DRIVER_MAX_VALUES = 0
    else:
        raise ValueError(f"unknown flush {flush!r}; expected driver or spark")
    base = IndexConfig(rows_per_segment=RPS, compact_dropped_fraction=1.0)
    x = np.round(np.random.default_rng(5).normal(size=(N, DIM)), 1).astype(np.float32)
    vdf = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(x)],
                                "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame([(q, (x[i] + 0.05).tolist()) for q, i in JOIN_QUERIES],
                                "q_id long, q_vec array<float>")
    small = spark.range(0, N, 3).withColumnRenamed("id", "ext_id")
    scenarios = {
        "nofilter": (None, {}),
        "setfilter": (set(range(0, N, 3)), {}),
        "dffilter": (small, {}),
        "overcap": (small, {"FILTER_BROADCAST_MAX": 0}),
    }
    cap = A.FILTER_BROADCAST_MAX
    root = tempfile.mkdtemp(prefix="compare_ann_")
    out: dict = {}

    def run(stage: str, metric: str, cat, cfg, full: bool) -> None:
        for name, (filt, patch) in scenarios.items():
            A.FILTER_BROADCAST_MAX = patch.get("FILTER_BROADCAST_MAX", cap)
            try:
                for qi in QUERIES if name != "dffilter" else ():  # the set filter's tier
                    q = x[qi] + 0.05
                    for call, fn in _topk_calls(spark, cat, cfg, q, filt, full).items():
                        out[f"{metric}/{stage}/{name}/{call}/q{qi}"] = _topk_rows(fn())
                for call, fn in _join_calls(spark, cat, qdf, filt).items():
                    out[f"{metric}/{stage}/{name}/{call}"] = _join_rows(fn())
            finally:
                A.FILTER_BROADCAST_MAX = cap

    for metric in ("l2", "cosine"):
        cfg = dataclasses.replace(base, ann=dataclasses.replace(base.ann, metric=metric))
        full = metric == "l2"
        cat = A.build_ann(spark, vdf, os.path.join(root, metric), cfg,
                          id_col="vec_id", vector_col="embedding", rows_per_segment=RPS)
        if full:
            A.build_ann_ivfpq(spark, cat, cfg)  # builds the PQ codebooks first
            build_ann_graph(spark, cat, cfg)
        run("fresh", metric, cat, cfg, full)
        A.delete_ann(spark, cat, set(range(0, N, 7)) | {4100}, cfg, auto_merge=False)
        run("deleted", metric, cat, cfg, full)
        A.merge_ann(spark, cat, cfg, groups=[[0, 1]], rows_per_segment=RPS)
        A.delete_ann(spark, cat, {14, 2222}, cfg, auto_merge=False)
        run("merged", metric, cat, cfg, full)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    n_rows = sum(len(v) for v in out.values())
    print(f"wrote {out_path}: {len(out)} lists, {n_rows} rows ({tier} tier, {flush} flush)")
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


def diff(a_path: str, b_path: str, skip: list[str]) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    keys = sorted(set(a) | set(b))
    bad = [k for k in keys if not any(s in k for s in skip) and a.get(k) != b.get(k)]
    for k in bad:
        print(f"DIFF {k}\n  a={a.get(k)}\n  b={b.get(k)}")
    n = sum(1 for k in keys if not any(s in k for s in skip))
    print(f"{n - len(bad)}/{n} lists identical")
    return 1 if bad else 0


def main() -> int:
    if sys.argv[1] == "dump":
        opts = {o: sys.argv[sys.argv.index(f"--{o}") + 1]
                for o in ("tier", "flush") if f"--{o}" in sys.argv}
        dump(sys.argv[2], **opts)
        return 0
    skip = sys.argv[sys.argv.index("--skip") + 1:] if "--skip" in sys.argv else []
    return diff(sys.argv[2], sys.argv[3], skip)


if __name__ == "__main__":
    sys.exit(main())
