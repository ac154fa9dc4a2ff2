"""The measured run: op bookkeeping, timed-phase clock, host readings."""

from __future__ import annotations

import gc
import math
import os
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of quantile ``p`` in (0, 1): a Beta-weighted
    average of all order statistics. A run holds few ops of unequal cost
    (the five stages of an ELT cycle, three micro-batches), and a single
    order statistic jumps between neighbouring ops from run to run."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of no samples")
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf)
    edges[0], edges[-1] = 0.0, 1.0
    return float(np.dot(np.diff(edges), xs))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it (None when there is none)."""
    return math.floor(100.0 * (n - 10) / n) if n > 10 else None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a file removed while walking (Spark temp files)
                pass
    return total


def steal_jiffies() -> int:
    """Host CPU steal from /proc/stat (USER_HZ=100 ticks)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident set, so a
    later reading holds only what came after (input generation and the
    warm-up are not the program's figure)."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def driver_mem_mb(spark) -> float:
    """Driver memory held after the timed phase: the JVM's live heap after
    a full GC plus its non-heap (metaspace, code cache), plus the peak
    resident set of the driver Python process during the timed phase
    (``reset_peak_rss`` is called when it starts).

    The JVM's own peak resident set is not used: G1 grows the heap by its
    pause-time heuristics, and across seeds that peak spread by 17-29% on
    identical code, wider than any regression bound the benchmark can set.
    """
    spark.catalog.clearCache()  # what the last op left cached varies by seed
    gc.collect()  # drop Python handles so the JVM objects behind them can go
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark's ContextCleaner frees unreferenced blocks asynchronously after a
    # GC finds them, so collect until the live heap stops shrinking
    heap = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed()
        if heap is not None and heap - used < 2**20:
            break
        heap = used
        time.sleep(0.5)
    heap = used
    nonheap = mx.getNonHeapMemoryUsage().getUsed()
    py = peak_rss_mb(os.getpid())
    print(f"perfbench memory: heap={heap / 2**20:.1f} nonheap={nonheap / 2**20:.1f} "
          f"python={py:.1f} MB", file=sys.stderr)
    return (heap + nonheap) / 2**20 + py


class Bench:
    """State shared by a workload and the runner: the session, the run's
    work directory, the op log and the clock of the timed phase."""

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tracer = None  # a trace.Tracer in traced runs
        self.ops: list[dict] = []
        self.timed_s = 0.0
        self.rows_done = 0  # workload rows processed in the timed phase
        self.write_amp: list[float] = []
        self.layer: dict[str, list[float]] = {}
        self.groups: list[str] = []  # traced runs: Spark job groups to read
        self.checks = 0  # output checks made (never reset: warm-up checks count)
        self._op_seq = 0

    def reset(self) -> None:
        """Forget everything the warm-up recorded."""
        self.ops.clear()
        self.timed_s, self.rows_done = 0.0, 0
        self.write_amp.clear()
        self.layer.clear()
        self.groups.clear()
        if self.tracer is not None:
            self.tracer.spans.clear()

    def layer_add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    @contextmanager
    def timed(self):
        """Accumulate the enclosed wall time into the timed phase."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timed_s += time.perf_counter() - t0

    @contextmanager
    def op(self, name: str):
        """One op of the closed loop: timed, failure-counted, and (traced
        runs) tagged with its own Spark job group and span op id."""
        rec = self.record(name, 0.0)
        if self.tracer is not None:
            self.tracer.op = rec["id"]
            self.job_group(f"op-{rec['id']}", name)
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception:
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.tracer is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.op = None

    def record(self, name: str, seconds: float) -> dict:
        """Log an op whose latency was measured elsewhere."""
        self._op_seq += 1
        rec = {"name": name, "s": seconds, "ok": True, "id": self._op_seq}
        self.ops.append(rec)
        return rec

    def job_group(self, group: str, description: str) -> None:
        """Tag the calling thread's next Spark jobs; the group's counters
        are read after the timed phase."""
        self.spark.sparkContext.setJobGroup(group, description)
        self.groups.append(group)

    def fail(self, rec: dict, why: str) -> None:
        """Mark an op whose output check failed."""
        rec["ok"] = False
        print(f"check failed: {rec['name']}: {why}", file=sys.stderr)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else _null()


@contextmanager
def _null():
    yield
