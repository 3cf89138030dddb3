"""Process and sample statistics for the benchmark: the tail-percentile
rule, CPU and peak memory of the process tree (procfs), and a fixed
pure-Python calibration loop that flags a noisy host."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int:
    """Highest whole percentile p with at least ``min_beyond`` of ``n``
    samples strictly above it (0 when there are too few samples)."""
    if n <= min_beyond:
        return 0
    return max(0, math.floor(100 * (n - min_beyond) / n))


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a beta-weighted average
    of the order statistics centred on rank p(n+1). When ops of different
    kinds trade places near that rank it moves smoothly instead of jumping
    from one op's latency to another's."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 0:
        return 0.0
    if p <= 0 or p >= 1:
        return float(x[0] if p <= 0 else x[-1])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # regularized incomplete beta I_t(a, b) by the midpoint rule
    steps = 20_000
    mid = (np.arange(steps) + 0.5) / steps
    logf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logf - logf.max()))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.arange(steps + 1) / steps, cdf)
    return float(np.dot(np.diff(edges), x))


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, int]:
    """(value, percentile): the quantile at ``tail_percentile``."""
    p = tail_percentile(len(values), min_beyond)
    return quantile(values, p / 100), p


def median(values: list[float]) -> float:
    """Plain sample median, for per-layer step timings."""
    return statistics.median(values) if values else 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the process tree, including reaped
    children (the Python UDF workers forked and reaped under the JVM)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of peak resident sets (VmHWM) over ``pids``, in MB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def calibrate(loops: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop; moves with the host, not the
    code under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(loops):
        acc += i * i % 7
    return time.perf_counter() - t0
