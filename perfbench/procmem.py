"""Peak summed RSS of the benchmark's process tree, read from ``/proc``.

The tree is this Python process and every descendant — the Spark
JVM, its Python workers and any ``psql`` child — except the subtrees of
pids passed in ``exclude`` (the PostgreSQL server, whose shared buffers
every backend maps and would be counted once per backend).
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.25  # between samples


def _processes() -> dict[int, tuple[int, tuple[int, int, int], int]]:
    """pid → (parent pid, address-space fingerprint, resident pages)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name sits in parentheses and may hold spaces; the
        # fields after it start at field 3 (state)
        fields = stat[stat.rindex(b")") + 2:].split()
        vsize, rss, startstack = int(fields[20]), int(fields[21]), int(fields[25])
        procs[int(name)] = (int(fields[1]), (vsize, rss, startstack), rss)
    return procs


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    """Summed RSS of ``root``'s process tree. A child between fork or
    vfork and exec reads the same size, resident pages and stack as its
    parent, though it adds (almost) nothing: processes with equal
    fingerprints are counted once. Summed without this, one store_pg run
    in twenty read a peak 2.9 GiB above the others, about the JVM's RSS
    counted twice."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, seen, todo = 0, set(), [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in procs:
            continue
        _, key, rss = procs[pid]
        if key not in seen:
            seen.add(key)
            total += rss * _PAGE
        todo.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Background sampler; ``peak_mb`` is the largest sum seen."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(INTERVAL_S)

    def sample(self, root: int | None = None) -> None:
        self.peak = max(self.peak, tree_rss_bytes(root or os.getpid(), self.exclude))

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
