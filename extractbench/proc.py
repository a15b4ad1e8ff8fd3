"""Process-tree CPU and memory, read from /proc, plus host-noise labels.

The tree is a root process and every live descendant: for a benchmark
worker that is the Python job process, the JVM it launched, the Python
daemon the JVM forked and the daemon's workers. CPU includes ``cutime`` and
``cstime``, so workers that already exited and were reaped by their
parent still count.
"""

from __future__ import annotations

import os
import threading

# the frozen bench's host-noise readers, reused as they are (the
# repository root is on sys.path: run.py puts it there)
from bench import _cpu_ticks, _load1, _steal_pct

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: a run is labelled noisy above these (bench.py flags steal at 8%)
STEAL_FLAG_PCT = 8.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree and its reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f:
            total += int(f[21])
    return total * _PAGE / 1e6


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop()``. The
    tree's pid list is refreshed every ``refresh`` samples, so a sample
    reads only the tree's own stat files."""

    def __init__(self, root: int, interval_s: float = 0.05, refresh: int = 10) -> None:
        self.root, self.interval_s, self.refresh = root, interval_s, refresh
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        k = 0
        while not self._stop.is_set():
            if k % self.refresh == 0:
                pids = tree_pids(self.root)
            k += 1
            pages = sum(int(f[21]) for f in map(_stat_fields, pids) if f)
            self.peak_mb = max(self.peak_mb, pages * _PAGE / 1e6)
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
        return self.peak_mb


class NoiseLabel:
    """1-min loadavg before the JVM starts and hypervisor steal over the run."""

    def __init__(self) -> None:
        self.load1 = _load1()
        self._ticks = _cpu_ticks()

    def finish(self) -> dict:
        steal = _steal_pct(self._ticks, _cpu_ticks())
        reasons = []
        ncpu = len(os.sched_getaffinity(0))
        if self.load1 > ncpu:
            reasons.append(f"load1 {self.load1} > {ncpu} cpus before start")
        if steal > STEAL_FLAG_PCT:
            reasons.append(f"steal {steal}% > {STEAL_FLAG_PCT}%")
        return {
            "load1": self.load1,
            "steal_pct": steal,
            "flagged": bool(reasons),
            "reasons": reasons,
        }
