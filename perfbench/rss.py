"""Peak resident memory and CPU time of a process tree, from ``/proc``.

One daemon thread sums the proportional set size (``Pss``) over the root
process and all of its descendants (here: the Python driver, the Spark
JVM it launched and the JVM's Python workers) and keeps the largest sum
seen since the last ``reset``. ``Pss`` splits shared pages among the
processes sharing them, so forked Python workers, and the short-lived
forks the JVM makes to run shell commands, are not counted twice as
``VmRSS`` would count them.

``tree_cpu_s`` sums user + system CPU time over the same tree, including
the time of children already reaped.
"""

from __future__ import annotations

import os
import threading


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU clock ticks incl. reaped children) for every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name (which may hold
        # spaces); rest[0] is field 3 of proc(5), so field n is rest[n - 3]
        rest = stat[stat.rindex(")") + 2:].split()
        table[int(entry)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return table


def _tree(root: int, table: dict[int, tuple[int, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every descendant."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(root, table) if p in table) / os.sysconf("SC_CLK_TCK")


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Current resident memory (Pss) of ``root`` and every descendant, in MiB."""
    return sum(_pss_kb(p) for p in _tree(root, _proc_table())) / 1024.0


class PeakRss:
    """Background sampler; use as a context manager."""

    #: seconds between samples
    INTERVAL_S = 0.2

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            mb = tree_rss_mb(self.root)
            with self._lock:
                self.peak_mb = max(self.peak_mb, mb)

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
