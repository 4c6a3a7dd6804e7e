"""Shared plumbing for the benchmark workloads: box sizing, the Spark
session, process-tree RSS sampling, Spark job/task accounting and the
summary statistics every workload reports."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(tmp_root: str):
    """``local[nproc]`` with shuffle partitions = nproc and every scratch
    location inside ``tmp_root``; returns once a first job has run."""
    from ethos_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(tmp_root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp_root, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_root}"
            f" -Dderby.system.home={tmp_root}",
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job and stage of the run, so job
            # and failed-task counts cover the whole run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class JobCounter:
    """Spark job and failed-task counts from the status tracker."""

    def __init__(self, spark):
        self._st = spark.sparkContext.statusTracker()

    def job_ids(self) -> set[int]:
        return set(self._st.getJobIdsForGroup(None))

    def jobs(self) -> int:
        return len(self.job_ids())

    def failed_tasks(self) -> int:
        n = 0
        for j in self.job_ids():
            info = self._st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = self._st.getStageInfo(s)
                if si is not None:
                    n += si.numFailedTasks
        return n


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    JVM, Arrow Python workers, a served child process), sampled on a
    daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest of p99.9/p99/p95/p90/p75/p50 that still has at least ten
    samples beyond it → (percentile, value, sample count). Falls back to
    the median when there are fewer than twenty samples."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        k = math.ceil(p / 100.0 * n)
        if k >= 1 and n - k >= 10:
            return p, xs[k - 1], n
    return 50.0, statistics.median(xs), n


def median(values) -> float:
    return statistics.median(list(values))


@dataclass
class Ctx:
    """What a workload gets: the session, its private temp root and the
    run's arguments."""

    spark: object
    root: str  # checkout root (PYTHONPATH of child processes)
    tmp: str
    seed: int
    seconds: float
    tracer: Tracer
    jobs: JobCounter
    started: float  # perf_counter when the run's process started
    phases: dict[str, float] = field(default_factory=dict)

    def mark(self, phase: str) -> float:
        """Record that ``phase`` ended → seconds since the run started."""
        self.phases[phase] = time.perf_counter() - self.started
        return self.phases[phase]


@dataclass
class Outcome:
    """A workload's figures: the end-to-end metrics (untraced meaning),
    the per-layer metrics (traced run only), operations attempted and
    failed, and the correctness mismatches behind ``failed``."""

    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
