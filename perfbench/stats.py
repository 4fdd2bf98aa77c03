"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import time
import traceback

import numpy as np

# A tail percentile is reported only when at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


def tail_percentile(n: int, beyond: int = TAIL_SAMPLES) -> int | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples strictly above its rank, or ``None`` when ``n < beyond + 1``.

    With ``n`` samples the p-th percentile has ``n * (1 - p/100)`` samples
    beyond it, so the answer is ``floor(100 * (1 - beyond / n))``.
    """
    if n <= beyond:
        return None
    return int(math.floor(100 * (1 - beyond / n) + 1e-9))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (NumPy's default method)."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


class Outcomes:
    """Counts attempted and failed operations.

    An operation fails when it raises or when its output check returns
    False.  Failures keep their message so the run can report them."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, what: str, fn, *args, **kwargs):
        """Call ``fn``; count it; return its result, or None on failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a benchmark op must not stop the run
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record one output check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {what} failed {detail}".rstrip())
        return ok

    @property
    def success_share(self) -> float:
        if self.attempted == 0:
            return 0.0
        return (self.attempted - self.failed) / self.attempted


def _proc_stat(pid: str):
    """(ppid, utime + stime + cutime + cstime in ticks) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and all its live descendants, with the children each has
    already reaped.  The driver JVM and the Python workers it forks are
    descendants of the benchmark process."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            ppid, t = _proc_stat(pid)
        except (OSError, IndexError, ValueError):  # exited while listing
            continue
        kids.setdefault(ppid, []).append(int(pid))
        ticks[int(pid)] = t
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")


def speed_probe(n: int = 200_000) -> float:
    """CPU seconds this thread takes for a fixed pure-Python loop: a
    sample of how fast the host's CPUs run right now."""
    t0 = time.thread_time()
    s = 0
    for i in range(n):
        s += i * i % 7
    return time.thread_time() - t0
