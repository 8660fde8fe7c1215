"""Process-tree RSS and CPU time from /proc (no third-party dependency).

The tree is this process and every descendant: the Spark driver JVM, the
Python worker daemon and its forked workers.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live tree, including reaped children
    (so CPU of workers that already exited is still counted)."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: the share
    of time a hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


class PeakRss:
    """Samples the summed RSS of the process tree until stopped; use as a
    context manager around the work to watch.  ``peak`` is the peak of the
    sum; ``peak_jvm`` and ``peak_py`` are the peaks of its JVM part and of
    the rest (this process, the Python worker daemon and its workers)."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = self.peak_jvm = self.peak_py = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, pids: list[tuple[int, bool]]) -> None:
        jvm = py = 0
        for pid, java in pids:
            if java:
                jvm += rss_bytes(pid)
            else:
                py += rss_bytes(pid)
        self.peak = max(self.peak, jvm + py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_py = max(self.peak_py, py)

    @staticmethod
    def _pids() -> list[tuple[int, bool]]:
        return [(pid, is_jvm(pid)) for pid in tree_pids()]

    def _loop(self) -> None:
        pids = self._pids()
        n = 0
        while True:
            self._sample(pids)
            if self._stop.wait(self.interval_s):
                return
            n += 1
            if n % 10 == 0:  # workers come and go; rescan the tree twice a second
                pids = self._pids()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(self._pids())
