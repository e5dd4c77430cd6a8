"""Spark event-log parser: jobs, stages, tasks, CPU, GC, shuffle, spill
and input bytes per job group.

Reads the JSON-lines log a session writes with ``spark.eventLog.enabled``
(uncompressed, not rolling). A job belongs to the job group in its start
properties; a stage to the job that submitted it; a task to its stage. Job
groups are the tracer's span paths
(``plans.runner.run_suite/checks.drift.drift_check``), so
:meth:`EventLog.under` sums a layer together with the calls it made.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields
from pathlib import Path

NO_GROUP = ""


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: GroupStats) -> GroupStats:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


@dataclass
class EventLog:
    groups: dict[str, GroupStats] = field(default_factory=dict)

    def group(self, name: str) -> GroupStats:
        return self.groups.get(name, GroupStats())

    def under(self, prefix: str) -> GroupStats:
        """Totals of every group whose path contains the segments of
        ``prefix``, i.e. the layer and every call nested below it, wherever
        it was called from. Segments match whole: ``b`` covers ``a/b/c``,
        never ``a/bc``."""
        out = GroupStats()
        for name, st in self.groups.items():
            if f"/{prefix}/" in f"/{name}/":
                out.add(st)
        return out

    def total(self) -> GroupStats:
        out = GroupStats()
        for st in self.groups.values():
            out.add(st)
        return out


def _task_stats(ev: dict) -> GroupStats:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    failed = (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success"
    return GroupStats(
        tasks=1,
        failed_tasks=int(failed),
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        input_bytes=inp.get("Bytes Read", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def parse_lines(lines) -> EventLog:
    stage_group: dict[int, str] = {}
    stages_seen: set[tuple[int, int]] = set()
    log = EventLog()

    def stats(group: str) -> GroupStats:
        return log.groups.setdefault(group, GroupStats())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or NO_GROUP
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            stats(group).jobs += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid, NO_GROUP)
            key = (sid, ev.get("Stage Attempt ID", 0))
            st = stats(group)
            if key not in stages_seen:
                stages_seen.add(key)
                st.stages += 1
            st.add(_task_stats(ev))
    return log


def parse(log_dir: str | Path) -> EventLog:
    """Parse the ``spark.eventLog.dir`` of a single session, which holds
    that session's one file (rolling logs are turned off)."""
    (path,) = (p for p in Path(log_dir).iterdir()
               if p.is_file() and not p.name.startswith("."))
    with open(path) as f:
        return parse_lines(f)
