"""/proc sampling for the benchmark's process tree: peak RSS and the CPU
time spent in PySpark Python workers.

The tree is this process plus every descendant: the driver JVM that
PySpark launches, its ``pyspark.daemon`` and the forked workers. Linux
only; every reader tolerates processes that exit between listing and
reading.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
# seconds between two samples of PeakRss
SAMPLE_INTERVAL_S = 0.05


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the LAST ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """utime+stime of ``pid``; with ``with_children`` also the CPU time of
    its children that already exited and were reaped (cutime+cstime)."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # after "pid (comm) ": state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def python_worker_cpu_s() -> float:
    """CPU seconds consumed so far by PySpark's Python side: every
    ``pyspark.daemon`` including the workers it forked and reaped, plus the
    live workers. Take the difference of two readings around a window."""
    total = 0.0
    for pid in process_tree():
        cmd = cmdline(pid)
        if "pyspark.daemon" in cmd:
            fields = _stat_fields(pid)
            # a forked worker keeps the daemon's cmdline: only the daemon
            # itself (parent is not a daemon) carries the reaped totals
            parent = int(fields[1]) if fields else -1
            if "pyspark.daemon" in cmdline(parent):
                total += cpu_seconds(pid)
            else:
                total += cpu_seconds(pid, with_children=True)
        elif "pyspark.worker" in cmd:
            total += cpu_seconds(pid)
    return total


class PeakRss:
    """Background sampler of the process tree's summed RSS; use as a
    context manager around the timed window. ``peak_mb`` after exit."""

    def __init__(self):
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, rss_bytes(process_tree()))
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def __enter__(self) -> PeakRss:
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
