import json

import pytest

from benchlib import eventlog


def job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def task(stage, cpu_ns=0, gc_ms=0, shuffle_w=0, shuffle_r=(0, 0), spill=(0, 0),
         read=0, attempt=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": shuffle_r[0],
                                     "Local Bytes Read": shuffle_r[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    job(0, [0, 1], "op.a/layer.x"),
    task(0, cpu_ns=2_000_000_000, shuffle_w=100, read=7),
    task(0, cpu_ns=1_000_000_000, gc_ms=250),
    task(1, shuffle_r=(30, 70), spill=(5, 6)),
    task(1, attempt=1, reason="FetchFailed"),
    job(1, [2], "op.a/layer.x/layer.y"),
    task(2, cpu_ns=500_000_000),
    job(2, [3], "op.a/layer.xy"),
    task(3),
    job(3, [4]),
    task(4),
]


def lines(events):
    return [json.dumps(e) for e in events]


def test_groups_sum_tasks_stages_and_metrics():
    log = eventlog.parse_lines(lines(EVENTS))
    x = log.group("op.a/layer.x")
    assert (x.jobs, x.stages, x.tasks, x.failed_tasks) == (1, 3, 4, 1)
    assert x.cpu_s == pytest.approx(3.0)
    assert x.gc_s == pytest.approx(0.25)
    assert (x.shuffle_write_bytes, x.shuffle_read_bytes, x.spill_bytes, x.input_bytes) == (
        100, 100, 11, 7)
    assert log.group(eventlog.NO_GROUP).tasks == 1


def test_under_matches_whole_segments_anywhere_in_the_path():
    log = eventlog.parse_lines(lines(EVENTS))
    assert log.under("layer.x").tasks == 5  # layer.x and its nested layer.y
    assert log.under("layer.y").cpu_s == pytest.approx(0.5)
    assert log.under("op.a/layer.x").jobs == 2
    assert log.under("layer.xy").tasks == 1  # never a prefix of another name
    assert log.under("op.a").tasks == 6
    assert log.total().tasks == 7


def test_parse_reads_the_session_log_in_its_directory(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(lines(EVENTS)) + "\n")
    (tmp_path / ".local-1.crc").write_text("")
    log = eventlog.parse(tmp_path)
    assert log.under("layer.x").tasks == 5
    assert log.total().tasks == 7
