"""Summary statistics, metric naming and process-tree memory sampling.

Timings are reported as the median plus the highest percentile that has
at least ``TAIL_MIN_BEYOND`` samples beyond it, always with the sample
count, so a tail figure is never read off a handful of samples.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading

#: percentiles a tail figure may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """(value, 1-based rank) of the nearest-rank ``pct`` percentile."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct * n / 100.0 - 1e-9))  # 99.9% of 10000 is 9990, not 9991
    return sorted_values[rank - 1], rank


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest ``TAIL_LADDER`` percentile whose
    nearest-rank position leaves at least ``TAIL_MIN_BEYOND`` samples
    above it, or None when even the median does not."""
    s = sorted(values)
    best = None
    for pct in TAIL_LADDER if s else ():
        v, rank = nearest_rank(s, pct)
        if len(s) - rank >= TAIL_MIN_BEYOND:
            best = (pct, v)
    return best


def describe(values: list[float]) -> dict:
    """Median, rule-picked tail and sample count of a timing series."""
    out: dict = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        t = tail(values)
        if t is not None:
            out["tail_pct"], out["tail"] = t
    return out


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set size summed over ``root_pid`` and its descendants.

    A child of the JVM that still runs the JVM's own executable is a
    command the JVM is spawning (Hadoop's local file system runs
    ``chmod`` and friends) before its exec: it shares the JVM's memory,
    and counting it would add the whole JVM a second time, so it is
    skipped. Forked Python workers have their own memory and count."""
    total, page, seen = 0, os.sysconf("SC_PAGE_SIZE"), set()
    stack = [(root_pid, "")]
    while stack:
        pid, parent_exe = stack.pop()
        if pid in seen:  # a child can be listed under more than one thread
            continue
        seen.add(pid)
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if exe == parent_exe and os.path.basename(exe) == "java":
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
            stack += [(c, exe) for c in _children(pid)]
        except OSError:
            continue  # exited between listing and reading
    return total


def rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Samples the RSS of this process's tree (the Python driver, the JVM
    and the Python workers it forks) on a daemon thread while armed.

    The peak is reported above a baseline: the driver process's own RSS
    when armed, which holds the generated inputs, the oracle's tables and
    the imported libraries, none of them the engine's timed work. The
    JVM and the workers count in full; the driver counts with what it
    grows by while armed (the engine's foreachBatch and driver-side
    pandas and Arrow work run there)."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self.baseline = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.INTERVAL_S):
            if self._armed.is_set():
                self.peak = max(self.peak, tree_rss_bytes(pid))

    def arm(self) -> None:
        self.baseline = rss_bytes(os.getpid())
        self.peak = tree_rss_bytes(os.getpid())
        self._armed.set()

    def disarm(self) -> int:
        """The peak above the baseline, in bytes."""
        self._armed.clear()
        return self.peak - self.baseline

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
