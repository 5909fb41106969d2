"""Stdlib ``/proc`` sampler for a process tree: CPU seconds and peak RSS.

The tree is this process plus every descendant (the Spark JVM it
launches and the JVM's Python workers). A background thread samples
``/proc/<pid>/stat`` for the whole tree at a fixed interval; CPU time of
a process is remembered at its last sample, so workers that exit
between two reads still count up to that read. RSS leaves out processes
younger than half a second: a child between ``vfork``/``posix_spawn``
and ``exec`` reports its parent's whole RSS for a moment.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MIN_AGE_S = 0.5


def _uptime_ticks() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) * _TICK


def _read_stat(pid: int) -> tuple[int, int, float, int] | None:
    """(ppid, start tick, utime+stime in seconds, rss bytes), None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces and parens: split after the last ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, int(fields[19]), cpu, rss


def tree_snapshot(root: int) -> dict[tuple[int, int], tuple[float, int]]:
    """{(pid, start tick): (cpu_s, rss_bytes)} for ``root`` and all its
    descendants; the start tick keeps a reused pid apart."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            _, start, cpu, rss = stats[pid]
            out[(pid, start)] = (cpu, rss)
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the process tree of ``root`` every ``interval`` seconds.

    ``cpu_s()`` is the tree's cumulative CPU time so far; ``peak_rss_mb``
    the largest summed RSS seen since the last ``reset_peak()``.
    """

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self._cpu: dict[tuple[int, int], float] = {}
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        snap = tree_snapshot(self.root)
        settled = _uptime_ticks() - MIN_AGE_S * _TICK
        rss = sum(r for (_, start), (_, r) in snap.items() if start <= settled)
        with self._lock:
            for key, (cpu, _) in snap.items():
                self._cpu[key] = cpu
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / (1 << 20)
