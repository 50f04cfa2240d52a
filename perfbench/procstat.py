"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (Linux only).

The tree is the Spark driver's Python process, the JVM it launched and the Python
workers the JVM forks. CPU is utime + stime of every live process plus the
cutime + cstime its exited, reaped children left behind, so a worker that
exits during a job still counts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        table[int(name)] = raw[raw.rindex(")") + 2 :].split()
    return table


def _tree(table: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in table.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process), excluding it."""
    root = os.getpid() if root is None else root
    return [p for p in _tree(_stat_table(), root) if p != root]


def alive(pids: list[int]) -> list[int]:
    """The ``pids`` still running (zombies count as ended)."""
    table = _stat_table()
    return [p for p in pids if p in table and table[p][0] != "Z"]


def tree_cpu_s() -> float:
    table = _stat_table()
    ticks = 0
    for pid in _tree(table, os.getpid()):
        f = table.get(pid)
        if f:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def steal_s() -> float:
    """Steal time of all CPUs since boot (``/proc/stat``): time a virtual
    machine's CPUs were runnable but the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_bytes() -> int:
    table = _stat_table()
    return sum(int(table[p][21]) for p in _tree(table, os.getpid()) if p in table) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a background thread while in use;
    ``peak_mb`` is the highest sample (taken at least once on entry and
    once on exit)."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes())

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
