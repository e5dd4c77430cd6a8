"""Host-state diagnostic recorded beside every run (never a metric).

The repo's ``BENCH/scaling.py`` calibration: aggregate decode throughput
of a pure numpy burn at 1 and ``nproc`` processes, plus streaming-copy
memory bandwidth. On a shared VM a co-tenant can halve either; a run whose
figures sit far below the others ran on a contended host. The burns are
short, so the run also records the share of CPU time the hypervisor gave
to other guests while it ran (``steal_share``, from /proc/stat).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

from .fixtures import ROOT


def host_state(nproc: int) -> dict:
    seconds = 0.3  # per burn: long enough to read, short beside a run
    t0 = time.perf_counter()
    out: dict = {"nproc": nproc, "loadavg": list(os.getloadavg())}
    path = ROOT / "BENCH" / "scaling.py"
    try:
        spec = importlib.util.spec_from_file_location("bench_scaling", path)
        scaling = importlib.util.module_from_spec(spec)
        # registered so the worker processes can unpickle its functions
        sys.modules[spec.name] = scaling
        spec.loader.exec_module(scaling)
        cal = scaling.calibrate(seconds=seconds, levels=tuple(sorted({1, nproc})))
        out["decode_clips_per_s"] = {str(k): v for k, v in cal.items()}
        out["mem_bandwidth_gb_s"] = scaling.mem_bandwidth(seconds=seconds, nproc=nproc)
    except Exception as e:  # diagnostic only: never fails the run
        out["error"] = f"{type(e).__name__}: {e}"
    out["wall_s"] = time.perf_counter() - t0
    return out


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, guest, guest_nice."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Stolen share of all CPU time between two :func:`cpu_ticks` readings
    (guest time is already counted in user time)."""
    delta = [b - a for a, b in zip(before[:8], after[:8])]
    return delta[7] / sum(delta) if sum(delta) else 0.0
