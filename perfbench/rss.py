"""Resident-memory high-water of this process and everything it started.

The driver JVM is a child of the benchmark process and the PySpark
Python workers are children of the JVM, so the process tree rooted here
covers all three. A background thread sums the tree's proportional set
size (PSS: resident pages, each shared page divided among the processes
that map it) every ``interval`` seconds and keeps the largest sum. PSS
rather than RSS, because a forked Python worker, or a JVM child between
fork and exec, maps its parent's pages: summed RSS would count them
twice.
"""

from __future__ import annotations

import os
import resource
import threading


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended, or has no memory map
        pass
    return 0


def tree_pss_mb(root: int) -> dict[str, float]:
    """PSS in MB of the process tree under ``root``, by command name."""
    tree = _children()
    todo, parts = [root], {}
    while todo:
        pid = todo.pop()
        name = _comm(pid)
        parts[name] = parts.get(name, 0.0) + _pss_kb(pid) / 1024
        todo.extend(tree.get(pid, []))
    return parts


class PeakRss:
    """Samples the process tree until :meth:`stop`; ``peak_mb`` is the
    high-water. Without ``smaps_rollup`` it falls back to this process's own
    ``ru_maxrss``."""

    def __init__(self, interval: float = 1.0) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._proc = os.path.exists(f"/proc/{os.getpid()}/smaps_rollup")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _sample(self) -> None:
        if self._proc:
            parts = tree_pss_mb(os.getpid())
        else:
            parts = {"self": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}
        if sum(parts.values()) > self.peak_mb:
            self.peak_mb, self.peak_parts = sum(parts.values()), parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_mb
