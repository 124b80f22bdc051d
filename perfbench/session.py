"""Pinned Spark session and out-of-process memory sampling.

One ``local[nproc]`` session per run with a fixed driver heap, raised
status-store retention (so the traced run sees every stage), and every
scratch directory inside the run's own work root. ``BenchSession`` owns
the JVM: ``close()`` stops Spark, shuts the gateway and waits for the JVM
process to exit.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def stolen_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs since
    boot (``steal`` of /proc/stat), in seconds; 0 where not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # field 4 (after the parenthesised command) is the parent pid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it. Python workers are forks of one daemon, so
    summing their plain RSS would count the shared pages once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> tuple[float, float]:
    """(combined resident memory of ``root_pid`` and all its descendants
    — the driver JVM plus the Python daemon and workers it forks —, that
    of the root alone), as PSS in MB."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0, _pss_kb(root_pid) / 1024.0


class RssSampler:
    """Samples a process tree's RSS from a thread of this (driver Python)
    process — outside the JVM it measures — and keeps the peak."""

    def __init__(self, pid: int, period_s: float = 0.1):
        self.pid, self.period_s = pid, period_s
        self.peak_mb = self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total, jvm = tree_rss_mb(self.pid)
            if total > self.peak_mb:
                self.peak_mb, self.peak_jvm_mb = total, jvm
            self._stop.wait(self.period_s)

    def reset(self) -> None:
        self.peak_mb = self.peak_jvm_mb = 0.0

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=5)


class BenchSession:
    """``with BenchSession(work_root) as bs:`` → ``bs.spark``; ``bs.start_s``
    is the session start time."""

    def __init__(self, work_root: str, driver_mem: str = "2g"):
        self.work_root = work_root
        self.driver_mem = driver_mem
        self.spark = None
        self.start_s = 0.0

    def __enter__(self) -> "BenchSession":
        from pyspark.sql import SparkSession

        n = cores()
        local = os.path.join(self.work_root, "spark-local")
        tmp = os.path.join(self.work_root, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # every scratch file inside the work root: the JVMs write no
        # hsperfdata to /tmp, and Spark and Python temp dirs point here
        os.environ.update(PYSPARK_PYTHON=sys.executable, SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
                          SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
        t0 = time.perf_counter()
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("perfbench")
            .config("spark.driver.memory", self.driver_mem)
            # a fixed-size heap, resident from the start: its growth, and
            # which of its pages GC has touched by the peak, would
            # otherwise follow GC timing
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{self.driver_mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.work_root, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.default.parallelism", str(n))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", "8m")
            .config("spark.sql.files.openCostInBytes", "0")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "1000000")
            .config("spark.ui.retainedStages", "1000000")
            .config("spark.ui.retainedTasks", "100")
            .config("spark.sql.ui.retainedExecutions", "10")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.start_s = time.perf_counter() - t0
        return self

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def __exit__(self, *exc) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes; kill it if it does not
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
