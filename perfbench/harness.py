"""Pieces shared by end-to-end and traced runs: the Spark session, set-up,
timed and checked passes, and the peak-RSS sampler."""

from __future__ import annotations

import os
import statistics
import threading
import time

import corpus

MASTER = "local[4]"
CORES = 4
MIN_PASSES = 3


class PeakRss:
    """Peak, over samples every `period` s, of the summed peak RSS (VmHWM)
    of this process and its live descendants: the Spark JVM and the Python
    workers. Processes that have exited no longer count."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            tree.update(kids)
            frontier += kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next((int(line.split()[1]) for line in f
                                   if line.startswith("VmHWM:")), 0)
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024


def session(extra_conf: dict[str, str] | None = None):
    from org_dharts_dia_tesseract_spark.session import get_spark
    spark = get_spark(MASTER, app_name="perfbench",
                      extra_conf={**corpus.spark_conf(), **(extra_conf or {})})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it, so that no
    process outlives the run."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()      # the gateway server exits at end of input
    gateway.proc.wait(timeout=60)


def set_up(wl, inp, extra_conf=None):
    """get_spark plus one warm-up pass over the warm-up slice, which starts
    a Python worker per core and warms the JVM."""
    spark = session(extra_conf)
    wl.run(spark, inp, warm=True)
    return spark


class Passes:
    """Timed passes of one workload, each checked against the oracle. A
    pass that raises or fails its check counts as failed; the time of
    every pass that completed is kept."""

    def __init__(self):
        self.walls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, spark, wl, inp, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while self.attempted < MIN_PASSES or time.perf_counter() < t_end:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = wl.run(spark, inp)
            except Exception as e:   # noqa: BLE001 -- a failed pass is counted
                self.failed += 1
                self.problems.append(f"pass raised {type(e).__name__}: {e}")
                continue
            self.walls.append(time.perf_counter() - t0)
            problems = wl.check(spark, inp, result)
            if problems:
                self.failed += 1
                self.problems += problems

    @property
    def wall_s(self) -> float:
        if not self.walls:
            raise RuntimeError(f"no pass completed: {self.problems[:3]}")
        return statistics.median(self.walls)


def metric(value, unit):
    return {"value": value, "unit": unit}
