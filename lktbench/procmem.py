"""/proc memory sampler for the benchmark's process tree.

A daemon thread reads the memory of this (driver) process and of every
descendant: the JVM that PySpark launches and the Python workers the JVM
forks. The sum uses each process's proportional set size (its resident
pages, with pages shared after a fork split among the sharers), so forked
workers are not counted twice; the largest single Python worker is reported
by its resident set size. It keeps the peak of the sum and, with
``keep=True``, a timeline of the largest worker, so a traced run can report
the peak worker RSS inside one stage's time window.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _memory(pid: int) -> tuple[int, int, str]:
    """(proportional set size, resident set size, command name) in bytes."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except (OSError, IndexError, ValueError, StopIteration):
        return 0, 0, ""
    return pss, rss, comm


class MemSampler:
    """Samples every ``interval`` seconds until :meth:`stop`."""

    def __init__(self, interval: float = 0.2, keep: bool = False):
        self.interval = interval
        self.keep = keep
        self.peak_total = 0
        self.timeline: list[tuple[float, int]] = []  # (time, largest python worker RSS)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memsampler", daemon=True)
        self._root = os.getpid()

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        total, _, _ = _memory(self._root)
        worker_max = 0
        for pid in descendants(self._root):
            pss, rss, comm = _memory(pid)
            total += pss
            if comm.startswith("python"):
                worker_max = max(worker_max, rss)
        self.peak_total = max(self.peak_total, total)
        if self.keep:
            self.timeline.append((time.time(), worker_max))

    def worker_peak(self, start: float, end: float) -> int:
        """Largest single Python worker RSS sampled in [start, end]."""
        return max((r for t, r in self.timeline if start <= t <= end), default=0)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)
