"""CPU and memory of this process and everything it started.

The tree is this Python driver, the Spark driver JVM it launches and the
Python workers the JVM forks. Read from ``/proc``; CPU counts the
children a process has already reaped, so short-lived workers are not
lost between samples.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in pids if pids is not None else tree():
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE_KB


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def mem_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the tree in MiB: the proportional set size of
    each Python process, whose forked workers share pages, and the plain
    resident size of the JVM, which shares none with them and whose
    ``smaps_rollup`` walk costs tens of milliseconds to read."""
    kb = 0
    for pid in pids if pids is not None else tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
            kb += _rss_kb(pid) if jvm else _pss_kb(pid)
        except OSError:
            continue
    return kb / 1024.0


class PeakMem:
    """Samples the tree's memory on a thread while inside ``with``; keeps the
    peak, and in ``cpu_s`` the CPU seconds the sampling itself cost (it
    runs in this process, so it is part of the tree's CPU time)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        t0 = time.thread_time()
        self.peak_mb = max(self.peak_mb, mem_mb())
        self.cpu_s += time.thread_time() - t0

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMem":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
