"""CPU and memory of a process tree, sampled from /proc.

`TreeSampler` runs in the benchmark's own process and reads /proc every
`interval` seconds for the tree under one root pid (the Spark driver's
Python process, its JVM, and the JVM's Python workers). Each sample holds
the tree's cumulative CPU seconds, the Python-worker share of them, and its
summed RSS. CPU of a child that has exited and been reaped moves into its
parent's cutime/cstime, so the cumulative counts stay continuous.

`cpu_between` interpolates the cumulative counts linearly between samples,
which is how a span [a, b] is charged the CPU the tree used during it.
"""

from __future__ import annotations

import os
import threading
import time
from bisect import bisect_left

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def read_stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes), or None
    if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1 : rp]
    fields = raw[rp + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return comm, ppid, (utime + stime + cutime + cstime) / _TICK, rss_pages * _PAGE


def scan() -> dict[int, tuple[str, int, float, int]]:
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = read_stat(int(d))
            if st is not None:
                stats[int(d)] = st
    return stats


def descendants(root: int, stats: dict) -> list[int]:
    """root and every process below it, from one scan()."""
    kids: dict[int, list[int]] = {}
    for pid, (_c, ppid, _cpu, _rss) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out: list[int] = []
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, float, int]:
    """(cpu_s, python-worker cpu_s, rss bytes) summed over root's tree.
    Python workers are the Python processes below the root; the root's own
    CPU is the driver's."""
    stats = scan()
    cpu = py = 0.0
    rss = 0
    for pid in descendants(root, stats):
        comm, _ppid, c, r = stats[pid]
        cpu += c
        rss += r
        if pid != root and comm.startswith("python"):
            py += c
    return cpu, py, rss


class TreeSampler:
    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.samples: list[tuple[float, float, float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self):
        cpu, py, rss = tree_usage(self.root)
        if rss:  # an empty read means the tree is gone
            self.samples.append((time.monotonic(), cpu, py, rss))

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()


def _interp(samples, t: float, col: int) -> float:
    times = [s[0] for s in samples]
    i = bisect_left(times, t)
    if i == 0:
        return samples[0][col]
    if i == len(samples):
        return samples[-1][col]
    (t0, v0), (t1, v1) = (samples[i - 1][0], samples[i - 1][col]), (samples[i][0], samples[i][col])
    return v0 + (v1 - v0) * (t - t0) / (t1 - t0) if t1 > t0 else v1


def cpu_between(samples, a: float, b: float) -> tuple[float, float]:
    """(cpu_s, python-worker cpu_s) the tree used between monotonic times
    a and b."""
    return (
        _interp(samples, b, 1) - _interp(samples, a, 1),
        _interp(samples, b, 2) - _interp(samples, a, 2),
    )


def peak_rss(samples, a: float, b: float) -> int:
    inside = [s[3] for s in samples if a <= s[0] <= b]
    return max(inside) if inside else 0
