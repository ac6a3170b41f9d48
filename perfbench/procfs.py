"""Process-tree CPU and memory from ``/proc`` (Linux).

The engine is three kinds of process: this Python driver, the JVM it
launches, and the ``pyspark.daemon`` Python workers the JVM forks. CPU
and resident memory are summed over the whole tree rooted at this
process, so no part of the engine's work is left out.
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
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces or parens: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every descendant."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def cpu_s() -> tuple[float, float]:
    """(whole tree, pyspark.daemon subtree) CPU seconds so far.

    Each process counts its own user+system time plus that of children
    it has reaped, so a worker that already exited still counts through
    the daemon that forked it."""
    kids = _children()
    total = workers = 0.0
    todo = [(os.getpid(), False)]
    while todo:
        pid, in_worker = todo.pop()
        st = _stat(pid)
        if st is None:
            continue
        in_worker = in_worker or _is_pyworker(pid)
        # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
        t = sum(int(x) for x in st[11:15]) / _TICK
        total += t
        if in_worker:
            workers += t
        todo.extend((k, in_worker) for k in kids.get(pid, ()))
    return total, workers


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine so far, from
    ``/proc/stat``. Busy is user, nice, system, irq and softirq time;
    stolen is time a virtual CPU had work but the hypervisor ran
    something else."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def rss_mb() -> float:
    """Resident memory of the whole tree, in MB."""
    pages = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE / 1e6


class PeakRss:
    """Samples :func:`rss_mb` on a background thread until stopped."""

    def __init__(self, every_s: float = 0.2):
        self.peak = 0.0
        self._every = every_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb())
            self._stop.wait(self._every)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mb())
