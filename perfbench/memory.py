"""Peak resident memory of the benchmark's process tree, sampled from /proc.

The tree is this Python driver, the JVM it launches, and the Python workers
the JVM forks.  A daemon thread sums resident memory over the tree every
``interval`` seconds and keeps the peaks.  The Python workers are forked from
one daemon and share most of their pages with it, so below the JVM each
process counts its proportional set size (shared pages split between their
sharers): the sum is then the memory the workers hold, not the number of
workers alive times the daemon's size.
"""

from __future__ import annotations

import os
import threading

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _processes() -> dict:
    """pid -> (ppid, comm) for every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(entry)] = (ppid, comm)
    return out


def tree_pids(root: int) -> list:
    """Every live descendant of ``root``."""
    children: dict = {}
    for pid, (ppid, _) in _processes().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class TreeMemorySampler:
    """Samples the RSS of ``root`` and its descendants until ``stop``; the
    peaks cover the time since the last ``reset``."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root = root
        self.interval = interval
        self._lock = threading.Lock()
        self.reset()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> "TreeMemorySampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_total_mb = 0.0
            self.peak_jvm_mb = 0.0
            self.peak_workers_mb = 0.0
            self.peak_workers_n = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        procs = _processes()
        children: dict = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total = jvm = workers = 0.0
        n_workers = 0
        stack = [(self.root, False)]
        while stack:
            pid, under_jvm = stack.pop()
            rss = _pss_mb(pid) if under_jvm else _rss_mb(pid)
            comm = procs.get(pid, (0, ""))[1]
            total += rss
            if comm == "java":
                jvm += rss
            elif under_jvm and comm.startswith("python"):
                workers += rss
                n_workers += 1
            stack.extend((c, under_jvm or comm == "java") for c in children.get(pid, ()))
        with self._lock:
            self.peak_total_mb = max(self.peak_total_mb, total)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
            self.peak_workers_mb = max(self.peak_workers_mb, workers)
            self.peak_workers_n = max(self.peak_workers_n, n_workers)
