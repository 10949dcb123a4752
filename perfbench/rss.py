"""Resident memory of this process and all its descendants (the driver
JVM and the Python workers it forks), read from /proc; and the
machine's stolen CPU time."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    """Pids of ``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / TICK


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds while
    running; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
