"""Benchmark entry point.

    python3 perfbench/run.py --workload text_serve --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, starts a
pinned ``local[nproc]`` Spark session, runs one workload as a closed loop
with one client for at least ``--seconds`` (whole cycles of its query
rotation, with the ops of its parts interleaved), checks the outputs,
and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every call runs under
the per-layer collector and the metrics are the per-layer ones. The line
before it is the workload's own report (its metrics under their own
names). Full results go to ``.perfbench/results/``; ``overhead.py``
compares a traced and an untraced run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

# BLAS pools of one thread: Spark already runs one task per core
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# workload -> the parts it interleaves, one closed-loop op of each in turn
WORKLOADS = {
    "text_serve": ("text_serve",),
    "ingest_churn": ("ingest_churn",),
    "ann_serve": ("ann_serve",),
    "dedup_prep": ("dedup_prep",),
    # the two the repository benchmark runs (see README.md for why pairs)
    "fulltext_live": ("text_serve", "ingest_churn"),
    "vector_dedup": ("ann_serve", "dedup_prep"),
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the engine is imported from the checkout; Spark's Python workers need
    # the same path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path[:0] = [ROOT]
    try:
        import cuvs_lucene_spark.operators.bm25  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    import importlib

    import layers
    from common import Ctx, mean, pct, rate
    from session import BenchSession, RssSampler, cores, fresh_dir
    from tracing import Recorder, Tracer, summarize

    base = os.path.join(ROOT, ".perfbench")
    work = fresh_dir(os.path.join(base, f"run-{args.workload}-{os.getpid()}"))
    mods = [importlib.import_module(f"workloads.{n}") for n in WORKLOADS[args.workload]]
    t_run = time.perf_counter()
    try:
        with BenchSession(work) as bs, RssSampler(bs.jvm_pid) as rss:
            tracer = Tracer(bs.spark) if args.trace else None
            rec = Recorder(tracer)
            ctx = Ctx(bs.spark, args.seed, args.seconds, work, rec, rss)
            if tracer is not None:
                with tracer:
                    outs = run_parts(ctx, [m.Part(ctx) for m in mods])
                resolved = tracer.resolve(rec.calls)
            else:
                outs = run_parts(ctx, [m.Part(ctx) for m in mods])
            setup_s = bs.start_s + sum(o["setup_s"] for o in outs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a metric applies when some part of the workload feeds it
    queries = [x for o in outs for x in o.get("queries_ms", ())]
    e2e = {"setup_s": setup_s}
    if any("queries_ms" in o for o in outs):
        e2e["query_mean_ms"] = mean(queries)
    # batch throughput comes from the serving part; docs throughput is
    # docs summed over the parts that feed it, over their summed time
    for o in outs:
        if "batch_qps" in o:
            e2e["batch_qps"] = o["batch_qps"]
    if any("docs" in o for o in outs):
        e2e["docs_per_s"] = rate(*(sum(x) for x in zip(*(o["docs"] for o in outs if "docs" in o))))
    e2e["peak_rss_mb"] = outs[0]["peak"][0]
    for o in outs:
        o["report"]["setup_s"] = o["setup_s"]
    report = (outs[0]["report"] if len(outs) == 1
              else {o["name"]: o["report"] for o in outs})
    report.update(setup_s=setup_s, session_start_s=bs.start_s, queries=len(queries),
                  query_p50_ms=pct(queries, 50), query_p90_ms=pct(queries, 90),
                  window_s=outs[0]["window_s"], window_steal_s=outs[0]["steal_s"],
                  peak_rss_mb=outs[0]["peak"][0],
                  peak_rss_jvm_mb=outs[0]["peak"][1])
    result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores(), "run_s": time.perf_counter() - t_run,
              "attempted": ctx.attempted, "failed": ctx.failed, "problems": ctx.problems,
              "error_rate": ctx.failed / max(1, ctx.attempted),
              "report": report, "e2e": e2e}
    result["op_ms"] = [(c.layer, 1000 * (c.t1 - c.t0)) for c in rec.calls]
    if args.trace:
        summary = summarize(resolved)
        result["layers"] = summary
        result["layer_map"] = layers.LAYERS
        result["calls"] = resolved
        metrics = layers.per_layer_metrics(summary, resolved, ctx, cores())
    else:
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in layers.E2E_UNITS.items()
                   if m in e2e}
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    out = os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=float)

    ok = ctx.failed == 0 and all(math.isfinite(m["value"]) for m in metrics.values())
    for m in metrics.values():  # JSON has no NaN; a missing metric fails the run
        if not math.isfinite(m["value"]):
            m["value"] = None
    print(json.dumps({"workload": args.workload, "error_rate": result["error_rate"],
                      **report}, default=float))
    print(json.dumps({"correct": ok, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


def run_parts(ctx, parts) -> list[dict]:
    """Set every part up, then interleave their ops, one of each part in
    turn, so that each part's ops spread over the whole window and a slow
    spell of the host falls on all of them alike. A part with a fixed
    schedule runs all of it; a serving part stops at the first end of a
    cycle at or after ``--seconds``. Traced runs then do each part's
    ``traced_extra`` work, which feeds no end-to-end metric, so that the
    window is the same in both kinds of run. Then check and summarise
    each part."""
    from session import stolen_s

    setups = [p.setup() for p in parts]
    ctx.rss.reset()
    t_start, steal = time.perf_counter(), stolen_s()
    live = [p.ops() for p in parts]
    while live:
        for ops in list(live):
            cycle_end = next(ops, None)
            if cycle_end is None or cycle_end and time.perf_counter() - t_start >= ctx.seconds:
                live.remove(ops)
    window, steal = time.perf_counter() - t_start, stolen_s() - steal
    peak = (ctx.rss.peak_mb, ctx.rss.peak_jvm_mb)
    if ctx.rec.tracer is not None:
        for p in parts:
            if hasattr(p, "traced_extra"):
                p.traced_extra()
    outs = []
    for p, s in zip(parts, setups):
        o = p.finish()
        o.update(name=p.name, setup_s=s, window_s=window, steal_s=steal, peak=peak)
        outs.append(o)
    return outs


if __name__ == "__main__":
    sys.exit(main())
