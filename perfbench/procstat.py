"""CPU time and resident memory of the Spark JVM and its Python workers,
read from ``/proc``.

The JVM is launched by PySpark as a child of this process and the
Python worker daemon is forked by the JVM, so the processes measured are
exactly the descendants of the benchmark process. CPU of a descendant
that exits is folded into its parent's ``cutime``/``cstime`` once
reaped, so summing ``utime + stime + cutime + cstime`` over the live
descendants counts every process once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return ppid, cpu, int(fields[21]) * _PAGE


def descendants(root: int | None = None) -> dict[int, tuple[float, int]]:
    """pid -> (cpu seconds, rss bytes) for every descendant of ``root``."""
    root = os.getpid() if root is None else root
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid][1:]
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    return sum(cpu for cpu, _ in descendants().values())


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs since boot: a witness of host contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / _TICK


class RssSampler:
    """Samples the summed RSS of the descendants on one thread until
    stopped; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total = sum(rss for _, rss in descendants().values())
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
