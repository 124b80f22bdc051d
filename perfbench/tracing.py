"""Timing of calls into the engine, and the per-layer collector.

``Recorder.call(layer, fn)`` times one call into a layer's public
function from benchmark code. With tracing off it only reads the clock.
With tracing on (``Tracer``) each call also:

- runs under its own Spark job group (``perfbench-<n>``, described by the
  layer name);
- counts and times the catalog's manifest reads and commits, by wrapping
  ``IndexCatalog.read_manifest``, ``write`` and ``append``.

After the run, ``Tracer.layers()`` resolves every call to its jobs (the
job group from ``statusTracker``, plus ungrouped jobs submitted inside
the call's interval — commits the engine runs from a thread pool), their
stages and tasks, and the stage metrics from one ``stageList`` read of
the status store.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Call:
    layer: str
    t0: float
    t1: float = 0.0
    group: str | None = None
    manifest_reads: int = 0
    manifest_read_s: float = 0.0
    commits: int = 0
    commit_s: float = 0.0
    extra: dict = field(default_factory=dict)


class Recorder:
    """Per-layer wall times of every call; the workloads' only clock."""

    def __init__(self, tracer: "Tracer | None" = None):
        self.tracer = tracer
        self.calls: list[Call] = []

    def call(self, layer: str, fn, **extra):
        """Run ``fn()`` as one call into ``layer``; returns (result, seconds).
        ``fn`` must consume its result (collect/count) before returning."""
        c = Call(layer, 0.0, extra=extra)
        if self.tracer is not None:
            self.tracer.begin(c)
        c.t0 = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            c.t1 = c.t0 + dt
            if self.tracer is not None:
                self.tracer.end(c)
            self.calls.append(c)
        return out, dt


def _jlist(sc, seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


class Tracer:
    """Job-group and catalog instrumentation for the traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.current: Call | None = None
        self._n = 0
        self._lock = threading.Lock()
        self._orig = {}

    # -- catalog wrapping --------------------------------------------------
    def __enter__(self) -> "Tracer":
        from cuvs_lucene_spark.sources.catalog import IndexCatalog

        def wrap(name, kind):
            orig = getattr(IndexCatalog, name)
            self._orig[name] = orig

            def wrapped(cat, *a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(cat, *a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    with self._lock:
                        c = self.current
                        if c is not None and kind == "read":
                            c.manifest_reads += 1
                            c.manifest_read_s += dt
                        elif c is not None:
                            c.commits += 1
                            c.commit_s += dt

            setattr(IndexCatalog, name, wrapped)

        wrap("read_manifest", "read")
        wrap("write", "commit")
        wrap("append", "commit")
        return self

    def __exit__(self, *exc) -> None:
        from cuvs_lucene_spark.sources.catalog import IndexCatalog

        for name, orig in self._orig.items():
            setattr(IndexCatalog, name, orig)
        self._orig.clear()

    # -- per call ----------------------------------------------------------
    def begin(self, c: Call) -> None:
        self._n += 1
        c.group = f"perfbench-{self._n}"
        self.sc.setJobGroup(c.group, c.layer)
        with self._lock:
            self.current = c

    def end(self, c: Call) -> None:
        with self._lock:
            self.current = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- resolution after the run -------------------------------------------
    def resolve(self, calls: list[Call]) -> list[dict]:
        """One dict per traced call: wall/driver ms, jobs, stages, tasks and
        the summed stage metrics."""
        sc, jvm = self.sc, self.sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        stages = {}
        for sd in _jlist(sc, store.stageList(empty, False, False,
                                             sc._gateway.new_array(jvm.double, 0), empty)):
            stages[(sd.stageId(), sd.attemptId())] = {
                "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                "failed": sd.numFailedTasks(),
                "run_ms": sd.executorRunTime(),
                "gc_ms": sd.jvmGcTime(),
                "input": sd.inputBytes(),
                "shuffle": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                "peak_mem": sd.peakExecutionMemory(),
            }
        by_stage = defaultdict(list)
        for (sid, _att), m in stages.items():
            by_stage[sid].append(m)
        jobs = {}
        for jd in _jlist(sc, store.jobsList(empty)):
            g = jd.jobGroup()
            jobs[jd.jobId()] = {
                "group": g.get() if g.isDefined() else None,
                "t0": _opt_ms(jd.submissionTime()),
                "t1": _opt_ms(jd.completionTime()),
                "stages": _jlist(sc, jd.stageIds()),
            }
        tracker = sc.statusTracker()
        out = []
        for c in calls:
            if c.group is None:
                continue
            jids = set(tracker.getJobIdsForGroup(c.group))
            # jobs the engine submits from its own worker threads carry no
            # group; in a one-client loop every job inside the interval is ours
            jids |= {
                j for j, d in jobs.items()
                if d["group"] is None and d["t0"] is not None and c.t0 <= d["t0"] <= c.t1
            }
            sids = {s for j in jids if j in jobs for s in jobs[j]["stages"]}
            ms = [m for s in sids for m in by_stage.get(s, ())]
            spans = sorted(
                (max(c.t0, jobs[j]["t0"]), min(c.t1, jobs[j]["t1"] or c.t1))
                for j in jids if j in jobs and jobs[j]["t0"] is not None
            )
            busy, end = 0.0, c.t0
            for a, b in spans:
                a = max(a, end)
                if b > a:
                    busy += b - a
                    end = b
            wall = c.t1 - c.t0
            out.append({
                "layer": c.layer,
                "wall_ms": 1000 * wall,
                "driver_ms": 1000 * max(0.0, wall - busy),
                "jobs": len(jids),
                "stages": len(sids),
                "tasks": sum(m["tasks"] for m in ms),
                "failed_tasks": sum(m["failed"] for m in ms),
                "exec_cpu_s": sum(m["run_ms"] for m in ms) / 1000.0,
                "gc_s": sum(m["gc_ms"] for m in ms) / 1000.0,
                "input_mb": sum(m["input"] for m in ms) / MB,
                "shuffle_mb": sum(m["shuffle"] for m in ms) / MB,
                "peak_exec_mem_mb": max((m["peak_mem"] for m in ms), default=0) / MB,
                "manifest_reads": c.manifest_reads,
                "manifest_read_ms": 1000 * c.manifest_read_s,
                "commits": c.commits,
                "commit_ms": 1000 * c.commit_s,
                **c.extra,
            })
        return out


def summarize(resolved: list[dict]) -> dict[str, dict]:
    """Per layer: p50 of wall_ms and driver_ms per call, mean per call of
    jobs, tasks, exec_cpu_s, input_mb and shuffle_mb, and failed tasks in
    total."""
    by = defaultdict(list)
    for r in resolved:
        by[r["layer"]].append(r)
    out = {}
    for layer, rs in by.items():
        out[layer] = {
            "calls": len(rs),
            "wall_ms": statistics.median(r["wall_ms"] for r in rs),
            "driver_ms": statistics.median(r["driver_ms"] for r in rs),
            **{k: statistics.fmean(r[k] for r in rs)
               for k in ("jobs", "tasks", "exec_cpu_s", "input_mb", "shuffle_mb")},
            "failed_tasks": sum(r["failed_tasks"] for r in rs),
        }
    return out
