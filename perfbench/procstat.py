"""Peak resident memory of a process tree, sampled from /proc.

The benchmark's Python process starts the Spark JVM, which starts the
Python workers; all of them are its descendants, so summing over its
process tree covers the benchmark process, the JVM and the workers.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int) -> float:
    """utime + stime of one process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its live descendants."""
    kids = _children_map()
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += _cpu_s(pid)
        todo.extend(kids.get(pid, ()))
    return total


def tree_rss_mb(root: int) -> float:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


def host_cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by the hypervisor between two
    `host_cpu_times()` samples (field 8 is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class PeakRss:
    """Samples the tree's RSS every `interval` seconds on a daemon thread
    between `start()` and `stop()`; `peak_mb` is the highest sum seen."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
