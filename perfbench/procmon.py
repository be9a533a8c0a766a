"""Peak resident memory of the benchmark's process tree, sampled from
``/proc``: this process, the Spark JVM it launches and the JVM's Python
workers, summed at each sample."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def children() -> dict[int, list[int]]:
    """Parent pid → child pids of every running process."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all of its descendants."""
    kids = children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of ``tree_rss_bytes(os.getpid())``.  Use as a
    context manager; ``take()`` returns the peak since the previous
    ``take()`` (or the start) and starts a new window."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def take(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
