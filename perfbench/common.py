"""What every workload shares: the run context, percentiles, means, rates
and the DuckDB oracle comparison."""

from __future__ import annotations

import sys
import traceback

import numpy as np

from tracing import Recorder


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q)) if len(xs) else float("nan")


def mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else float("nan")


def rate(n: float, seconds: float) -> float:
    """Work per second; NaN (a missing metric) when nothing was timed."""
    return n / seconds if seconds else float("nan")


class Ctx:
    """One run: the Spark session, its seed and time budget, the call
    recorder, and the tally of ops attempted and failed."""

    def __init__(self, spark, seed: int, seconds: float, work: str, rec: Recorder, rss):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.rec, self.rss = rec, rss
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer_extra: dict = {}  # per-layer metrics only a workload can compute

    def op(self, layer: str, fn, **extra):
        """One timed op. An op that raises counts as failed; returns
        (result or None, seconds)."""
        self.attempted += 1
        try:
            return self.rec.call(layer, fn, **extra)
        except Exception as e:  # a failed op is a measured outcome, not a crash
            self.failed += 1
            self.problems.append(f"{layer}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None, float("nan")

    def check(self, ok: bool, what: str) -> bool:
        """A correctness check, run outside every timed call."""
        if not ok:
            self.failed += 1
            self.problems.append(f"check failed: {what}")
            print(f"check failed: {what}", file=sys.stderr)
        return ok


def rows_of(rows, id_key: str = "ext_id", score_key: str = "score") -> list[tuple[int, float]]:
    return sorted(((int(r[id_key]), round(float(r[score_key]), 6)) for r in rows),
                  key=lambda t: (-t[1], t[0]))


# the oracle lists this many ranks past the engine's k, so that it holds
# every doc tied with the engine's last one
ORACLE_MARGIN = 10


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int = 10,
              tol: float = 2e-6) -> bool:
    """The engine's top ``k`` (``got``) agrees with the oracle's top
    ``k + ORACLE_MARGIN`` (``want``): equal scores rank by rank within
    rounding of 6 dp, and every returned id scored as the oracle scores
    it. Ids may differ only among equal scores, whose order the engine
    and the oracle may break differently."""
    if len(got) != min(k, len(want)) or len({g[0] for g in got}) != len(got):
        return False
    score = dict(want)
    return all(abs(g[1] - w[1]) <= tol and abs(score.get(g[0], float("inf")) - g[1]) <= tol
               for g, w in zip(got, want))


class Oracle:
    """DuckDB over the generated documents (``doc_id``, ``text``)."""

    def __init__(self, docs):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.register("documents", docs[["doc_id", "text"]])

    def topk(self, sql: str) -> list[tuple[int, float]]:
        return sorted(((int(i), round(float(s), 6)) for i, s in self.con.execute(sql).fetchall()),
                      key=lambda t: (-t[1], t[0]))

    def close(self) -> None:
        self.con.close()


def concurrently(fns, workers: int = 4) -> list:
    """Run independent warm-up calls side by side (set-up only: their
    first-call compile and worker start-up overlap)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(workers) as pool:
        futs = [pool.submit(f) for f in fns]
        return [f.result() for f in futs]
