"""CPU time and resident memory of the Spark process tree, read from /proc.

PySpark starts one JVM (the driver, which runs every task in local mode) as a
child of the Python driver; the JVM forks a `pyspark.daemon`, which forks the
Python workers that run pandas UDFs. Spark's executor metrics see neither the
workers' CPU nor their memory, so both are read here per process.

CPU of a live process is read from its CPU-time clock (nanoseconds, exited
threads included). CPU of a process that has exited is not lost: once its
parent reaps it, the kernel adds it to the parent's cutime/cstime (clock
ticks), so the sum over the live tree is continuous across worker exits."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; fields after it are space-separated
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _descendants(root: int) -> list[int]:
    """`root` and every live process below it, from the kernel's per-thread
    child lists (no walk over all of /proc)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def _process_cpu_s(pid: int) -> float | None:
    """CPU time of every thread of `pid`, exited threads included, with
    nanosecond resolution: the process's CPU-time clock (Linux encodes it as
    clockid ((~pid) << 3) | CPUCLOCK_SCHED)."""
    try:
        return time.clock_gettime(((~pid) << 3) | 2)
    except OSError:
        return None


@dataclass
class Sample:
    jvm_cpu_s: float
    # the driver Python process plus every Python worker: the driver runs
    # program work too (plan building, the local SAME_AS union-find)
    python_cpu_s: float
    # JVM + Python workers; the driver Python also holds the benchmark's own
    # reference data, so it is left out
    rss_mb: float


class SparkTree:
    """The JVM started by this process and everything below it.

    Sampling costs driver CPU of its own; `own_cpu_s` adds it up over every
    thread that samples, and the driver's CPU is reported without it."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.own_cpu_s = 0.0
        self._lock = threading.Lock()

    @classmethod
    def of_current_gateway(cls) -> "SparkTree":
        from pyspark import SparkContext

        return cls(SparkContext._gateway.proc.pid)  # noqa: SLF001

    def sample(self) -> Sample:
        t0 = time.thread_time()
        jvm_cpu = worker_cpu = 0.0
        rss_pages = 0
        for pid in _descendants(self.jvm_pid):
            st = _stat(pid)
            cpu = _process_cpu_s(pid)
            if st is None or cpu is None:
                continue
            # fields after comm: cutime=13 cstime=14 rss=21; children reaped
            # by a process (exited daemons and workers) land in its cutime
            reaped = (int(st[13]) + int(st[14])) / _TICK
            if pid == self.jvm_pid:
                jvm_cpu += cpu
                worker_cpu += reaped
                rss_pages += int(st[21])
            else:
                worker_cpu += cpu + reaped
                if _comm(pid).startswith("python"):
                    # Hadoop's shell helpers fork the JVM; until they exec,
                    # such a child shows the JVM's whole RSS again
                    rss_pages += int(st[21])
        with self._lock:
            self.own_cpu_s += time.thread_time() - t0
            own = self.own_cpu_s
        return Sample(
            jvm_cpu_s=jvm_cpu,
            python_cpu_s=worker_cpu + time.process_time() - own,
            rss_mb=rss_pages * _PAGE / 2**20,
        )


class PeakRss:
    """Background sampler: peak tree RSS while the `with` block runs."""

    def __init__(self, tree: SparkTree, interval_s: float = 0.1) -> None:
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self.tree.sample().rss_mb)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.tree.sample().rss_mb)
