"""CPU time and resident memory of the benchmark's process tree.

The tree is this Python process, the Spark JVM it launched and the
Python workers the JVM forks. Read from ``/proc``; children that already
exited are included through their parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:       # the process exited while the tree was read
        return None
    # the command name may hold spaces: fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[list[str]]:
    """``stat`` fields (from ``state`` on) of ``root`` and its descendants."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    # fields 14-17 of stat: utime stime cutime cstime (index 11-14 here)
    return sum(sum(int(x) for x in st[11:15]) for st in tree(root)) / _TICK


def rss_mb(root: int) -> float:
    return sum(int(st[21]) for st in tree(root)) * _PAGE / 1e6


class PeakRss:
    """Samples the tree's RSS on a thread while the ``with`` body runs."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(self.root))
