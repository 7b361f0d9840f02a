"""CPU seconds and resident memory of this process and all its
descendants (this Python process, the JVM and its Python workers), read
from /proc.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:                    # the process ended meanwhile
        return None
    # the command name may hold spaces; the fields after it never do
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including reaped children, so a
    worker that exits between two readings is still counted."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(v) for v in f[11:15])   # utime stime cutime cstime
    return ticks / _TICK


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _one_rss(pid: int) -> int:
    """A Python process's proportional set size (PSS): summing plain RSS
    would count a forked worker's pages shared with its daemon twice. The
    JVM shares next to nothing, and reading its smaps costs about 30 ms,
    so its plain RSS is taken from statm instead."""
    with open(f"/proc/{pid}/comm") as fh:
        is_jvm = fh.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def rss_bytes(root: int) -> int:
    """Combined resident memory of the tree with shared pages counted
    once."""
    total = 0
    for pid in tree_pids(root):
        try:
            total += _one_rss(pid)
        except OSError:                # the process ended meanwhile
            pass
    return total


class PeakRss:
    """Samples the tree's combined RSS on a thread while `active` is set;
    `peak` is the highest sample."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(self.interval_s):
                self.peak = max(self.peak, rss_bytes(self.root))
                self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
