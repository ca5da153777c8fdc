"""Process-tree CPU and memory from ``/proc`` (no psutil).

The tree is the benchmark's own process plus every descendant: the
Spark JVM, the PySpark daemon and its Python workers. CPU time of a
process counts its own ``utime + stime`` and the ``cutime + cstime``
of children it has reaped, so short-lived workers that exit between
two readings still count once their parent reaps them.
"""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, vsize, rss pages), or
    None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses
    f = raw[raw.rindex(")") + 2:].split()
    return (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
            int(f[20]), int(f[21]))


def tree(root: int | None = None) -> dict:
    """{pid: stat tuple} for ``root`` and all its descendants."""
    root = root or os.getpid()
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict = {}
    for pid, st in info.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """User + system core-seconds used so far by the whole tree."""
    return sum(st[1] for st in tree(root).values()) / TICK


def rss_bytes(pids) -> int:
    """Summed resident set of ``pids``. A process whose size equals
    its parent's is between fork and exec (the JVM spawns helpers
    this way) and still maps its parent's pages: it is not counted."""
    stats = {p: _stat(p) for p in pids}
    total = 0
    for pid, st in stats.items():
        if st is None:
            continue
        parent = stats.get(st[0])
        if parent is not None and parent[2:] == st[2:]:
            continue
        total += st[3] * _PAGE
    return total


class RssSampler:
    """Background sampler of the tree's summed resident set.

    ``peak`` holds the largest sample taken while ``active`` is set,
    so only the timed jobs count, not set-up or checks.
    """

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        pids = list(tree())
        last_scan = time.monotonic()
        while not self._stop.wait(self.interval):
            if not self.active.is_set():
                continue
            if time.monotonic() - last_scan > 0.5:
                pids = list(tree())
                last_scan = time.monotonic()
            self.peak = max(self.peak, rss_bytes(pids))
