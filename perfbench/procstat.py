"""Process-tree CPU time and resident memory from ``/proc``.

The tree is this process and every descendant: the Spark JVM, the PySpark
daemon and its Python workers, and any fork helpers they start. It is
found by following ``/proc/<pid>/task/<tid>/children`` down from this
process, so only the tree's own entries are read, however many other
processes the host runs. CPU time of a descendant that has already exited
is still counted, because its parent's ``cutime``/``cstime`` absorb it
when the parent reaps it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # exited
            continue
        seen.append(pid)
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:  # thread exited
                continue
    return seen


def _stat(pid: int) -> tuple[float, int]:
    """(cpu seconds incl. reaped children, rss bytes); zeros if exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return 0.0, 0
    # the command name may hold spaces or ')' — fields start after the last ')'
    fields = raw[raw.rfind(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK, int(fields[21]) * _PAGE


def tree_cpu_s(root: int | None = None) -> float:
    return sum(_stat(p)[0] for p in tree_pids(root))


def tree_rss_bytes(root: int | None = None) -> int:
    return sum(_stat(p)[1] for p in tree_pids(root))


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak`` is the
    largest sample between ``__enter__`` and ``__exit__``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())
