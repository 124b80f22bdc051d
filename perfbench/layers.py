"""The metric catalogue: end-to-end metrics, the layers the traced run
measures, and which end-to-end metric each layer should move on which
workload. A workload not named for a layer bypasses it, so the prediction
there is no change (the traced run reports 0 for it)."""

from __future__ import annotations

import statistics

# Gated end-to-end metrics. Every workload reports all of them; which
# queries, batches and documents they count differs per workload (see
# README.md).
E2E_UNITS = {
    "setup_s": "s",
    "query_mean_ms": "ms",
    "batch_qps": "1/s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# layer -> (workload and part that exercise it, the metrics it should move
# there); the traced result file carries this map beside the numbers
TEXT, CHURN = "fulltext_live (text_serve)", "fulltext_live (ingest_churn)"
ANN, DEDUP = "vector_dedup (ann_serve)", "vector_dedup (dedup_prep)"
LAYERS = {
    "bm25.topk": (TEXT + ", " + CHURN,
                  "query_mean_ms (query_p50_ms, query_p90_ms); fresh_query_p50_ms"),
    "bm25.boolean": (TEXT, "query_mean_ms (query_p50_ms, query_p90_ms)"),
    "bm25.dismax": (TEXT, "query_mean_ms (query_p50_ms, query_p90_ms)"),
    "bm25.batch": (TEXT, "batch_qps"),
    "positions.phrase": (TEXT, "query_mean_ms (query_p90_ms)"),
    "multiterm.prefix": (TEXT, "query_mean_ms (query_p90_ms)"),
    "multiterm.fuzzy": (TEXT, "query_mean_ms (query_p90_ms)"),
    "segments.build": (CHURN, "build_docs_per_s, docs_per_s"),
    "ingest.epoch": (CHURN, "ingest_docs_per_s, docs_per_s"),
    "deletes": (CHURN, "ingest_docs_per_s, docs_per_s"),
    "merge": (CHURN + ", traced runs", "merge_docs_per_s"),
    "ann.build.flat": (ANN, "ann_build_vecs_per_s, setup_s"),
    "ann.build.pq": (ANN, "ann_build_vecs_per_s, setup_s"),
    "ann.build.ivfpq": (ANN, "ann_build_vecs_per_s, setup_s"),
    "ann_graph.build": (ANN, "ann_build_vecs_per_s, setup_s"),
    "ann.exact": (ANN, "query_mean_ms (query_p50_ms)"),
    "ann.ivf": (ANN, "query_mean_ms (query_p50_ms), recall_at_10"),
    "ann.sq": (ANN, "query_mean_ms (query_p50_ms), recall_at_10"),
    "ann.pq": (ANN, "query_mean_ms (query_p50_ms), recall_at_10"),
    "ann.ivfpq": (ANN, "query_mean_ms (query_p50_ms), recall_at_10"),
    "ann_graph.search": (ANN, "query_mean_ms (query_p50_ms), recall_at_10"),
    "ann.knn_join": (ANN, "batch_qps"),
    "dedup.exact": (DEDUP, "docs_per_s (prep_docs_per_s), peak_rss_mb"),
    "dedup.minhash_lsh": (DEDUP, "docs_per_s, peak_rss_mb"),
    "dedup.simhash_near_dup": (DEDUP, "docs_per_s, peak_rss_mb"),
    "dedup.components": (DEDUP, "docs_per_s (prep_docs_per_s), peak_rss_mb"),
    "dedup.contamination": (DEDUP, "docs_per_s (prep_docs_per_s), peak_rss_mb"),
    "textstats.quality": (DEDUP, "docs_per_s (prep_docs_per_s)"),
    "textstats.repetition": (DEDUP, "docs_per_s (prep_docs_per_s)"),
}

QUERY_LAYERS = ("bm25.topk", "bm25.boolean", "bm25.dismax", "positions.phrase",
                "multiterm.prefix", "multiterm.fuzzy", "ann.exact", "ann.ivf", "ann.sq",
                "ann.pq", "ann.ivfpq", "ann_graph.search")
BM25_SINGLE = ("bm25.topk", "bm25.boolean", "bm25.dismax")
WRITE_LAYERS = ("segments.build", "ingest.epoch", "deletes", "merge", "ann.build.flat",
                "ann.build.pq", "ann.build.ivfpq", "ann_graph.build")
# layers whose driver-side share an optimisation is likely to move
DRIVER_MS_LAYERS = QUERY_LAYERS + WRITE_LAYERS + ("bm25.batch", "ann.knn_join")
ANN_RECALL_MODES = ("ivf", "sq", "pq", "ivfpq", "graph")

UNITS = {"wall_ms": "ms", "driver_ms": "ms", "jobs": "count", "exec_cpu_s": "s"}

EXTRA_UNITS = {
    "bm25.jobs_per_query": "count",
    "bm25.driver_ms_per_query": "ms",
    "bm25.batch.scan_free_ratio": "ratio",
    "catalog.manifest_reads_per_query": "count",
    "catalog.manifest_read_ms": "ms",
    "catalog.commits_per_op": "count",
    "catalog.commit_ms": "ms",
    "merge.unique_terms_merged": "count",
    "merge.bytes_written_per_live_byte": "ratio",
    **{f"ann.{m}.recall_at_10": "ratio" for m in ANN_RECALL_MODES},
    "dedup.lsh.true_pairs_per_candidate": "ratio",
    "dedup.peak_exec_mem_mb": "MB",
    "spark.core_utilization": "ratio",
    "spark.gc_s": "s",
    "spark.jobs_total": "count",
}


def per_layer_names() -> dict[str, str]:
    """The per-layer metrics BENCHMARK.json lists, name -> unit."""
    out = {}
    for layer in LAYERS:
        for f in ("wall_ms", "jobs", "exec_cpu_s") + (("driver_ms",) if layer in DRIVER_MS_LAYERS else ()):
            out[f"{layer}.{f}"] = UNITS[f]
    out.update(EXTRA_UNITS)
    return out


def _mean(xs, default=0.0):
    xs = list(xs)
    return statistics.fmean(xs) if xs else default


def per_layer_metrics(summary: dict, resolved: list[dict], ctx, cores: int) -> dict:
    """Every per-layer metric of BENCHMARK.json for one traced run; a layer
    the workload bypasses reads 0."""
    vals = {}
    for layer in LAYERS:
        s = summary.get(layer, {})
        for f in ("wall_ms", "jobs", "exec_cpu_s", "driver_ms"):
            vals[f"{layer}.{f}"] = float(s.get(f, 0.0))
    q = [r for r in resolved if r["layer"] in QUERY_LAYERS]
    b = [r for r in resolved if r["layer"] in BM25_SINGLE]
    w = [r for r in resolved if r["layer"] in WRITE_LAYERS]
    batches = [r for r in resolved if r["layer"] == "bm25.batch"]
    commits = sum(r["commits"] for r in w)
    vals.update({
        "bm25.jobs_per_query": _mean(r["jobs"] for r in b),
        "bm25.driver_ms_per_query": statistics.median(r["driver_ms"] for r in b) if b else 0.0,
        "bm25.batch.scan_free_ratio": _mean(float(r["input_mb"] == 0) for r in batches),
        "catalog.manifest_reads_per_query": _mean(r["manifest_reads"] for r in q),
        "catalog.manifest_read_ms": _mean(r["manifest_read_ms"] for r in q),
        "catalog.commits_per_op": _mean(r["commits"] for r in w),
        "catalog.commit_ms": sum(r["commit_ms"] for r in w) / commits if commits else 0.0,
        "dedup.peak_exec_mem_mb": max((r["peak_exec_mem_mb"] for r in resolved
                                       if r["layer"].startswith("dedup.")), default=0.0),
        "spark.gc_s": sum(r["gc_s"] for r in resolved),
        "spark.jobs_total": float(sum(r["jobs"] for r in resolved)),
    })
    wall = sum(r["wall_ms"] for r in resolved) / 1000.0
    vals["spark.core_utilization"] = (
        sum(r["exec_cpu_s"] for r in resolved) / (wall * cores) if wall else 0.0)
    for k in EXTRA_UNITS:
        vals.setdefault(k, float(ctx.layer_extra.get(k, 0.0)))
    return {k: {"value": vals[k], "unit": u} for k, u in per_layer_names().items()}
