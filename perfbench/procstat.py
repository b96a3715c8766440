"""CPU time and resident memory of a process tree, read from /proc.

The tree is rooted at the benchmark's own process: the driver JVM is its
child, and the PySpark daemon and Python workers descend from the JVM.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process exited between listing and reading
        return None


def tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """User+system CPU of the live tree plus everything its members have
    reaped. A reaped child's time lives only in its parent's cutime/cstime,
    so nothing is counted twice."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def pss_mb(root: int | None = None) -> float:
    """Proportional set size summed over the live tree, in MiB: resident
    memory with each shared page split among its sharers, so Python workers
    forked from one daemon do not count the daemon's pages once each."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class PeakPss:
    """Samples :func:`pss_mb` of the tree on a background thread while the
    ``with`` block runs; ``peak_mb`` is the highest sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, name="peak-pss")

    def _sample(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, pss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, pss_mb())
