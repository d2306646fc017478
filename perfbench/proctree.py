"""Peak resident memory of this process and all its descendants.

``psutil`` is not a dependency, so the tree is found by walking
``/proc/<pid>/stat`` for parent ids. The tree covers the Python driver,
the JVM it launched and the Python workers the JVM forks. RSS of forked
workers counts shared pages once per process, so the sum is an upper
bound on physical use; it is the same bound on every run.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we walked
            continue
        # comm may hold spaces and parentheses: fields resume after the last ')'
        fields = stat[stat.rindex(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRSS:
    """Samples this process tree's RSS on a background thread while
    active: ``with PeakRSS() as p: ...`` then read ``p.peak_bytes``."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.root = os.getpid()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
