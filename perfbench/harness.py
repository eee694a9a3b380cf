"""Spans around calls into the program, and the loop that times a workload.

A span tags everything it runs with its own Spark job group, so jobs,
tasks and plan metrics can be attributed to it afterwards (from the
status tracker at once, from the event log after the run), and records
wall time and the CPU seconds of the whole process tree (the driver,
the JVM and the Python workers) from ``/proc``.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import procfs


@dataclass
class Span:
    name: str
    group: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    py_cpu_s: float = 0.0  # Python workers alone
    jobs: int = 0


@dataclass
class Op:
    """One timed operation of a workload iteration; ``ok`` is its output
    check, made outside the timed region."""

    name: str
    wall_s: float
    ok: bool
    cpu_s: float


def _cpu_split(root: int) -> tuple[float, float]:
    """(whole tree, Python workers) CPU seconds so far."""
    total = py = 0.0
    for pid, (comm, cpu) in procfs.tree_cpu(root).items():
        total += cpu
        if pid != root and comm.startswith("python"):
            py += cpu
    return total, py


class Probe:
    """Spans over one SparkContext; keeps every span it closed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.pid = os.getpid()
        self.spans: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        s = Span(name, f"{name}#{self._seq}")
        self.sc.setJobGroup(s.group, name)
        cpu0, py0 = _cpu_split(self.pid)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            cpu1, py1 = _cpu_split(self.pid)
            s.cpu_s, s.py_cpu_s = cpu1 - cpu0, py1 - py0
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)


def timed(fn, *args):
    """(result, seconds) of ``fn(*args)``."""
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples
    beyond it; the median when there are fewer than twenty samples."""
    return max(50, math.floor(100 * (1 - 10 / n))) if n else 50


def summarize(iters: list[list[Op]], setup_s: float) -> tuple[dict, dict]:
    """(end-to-end metrics, details) of the timed iterations. An
    iteration's wall and CPU time are the sums over its ops, so the
    output checks between ops are not counted."""
    op_walls = [op.wall_s for ops in iters for op in ops]
    tail_p = tail_percentile(len(op_walls))
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (
            statistics.median(sum(op.wall_s for op in ops) for ops in iters),
            "s",
        ),
        "op_p50_s": (statistics.median(op_walls), "s"),
        "cpu_s": (
            statistics.median(sum(op.cpu_s for op in ops) for ops in iters),
            "s",
        ),
    }
    tail = percentile(op_walls, tail_p)
    details = {
        "iterations": len(iters),
        "ops": len(op_walls),
        "op_tail_s": tail,
        "op_tail_percentile": tail_p,
        "op_tail_samples_beyond": sum(1 for w in op_walls if w > tail),
    }
    return metrics, details
