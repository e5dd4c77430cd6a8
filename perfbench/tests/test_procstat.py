import os
import subprocess
import sys

from benchlib import procstat

# forks a CPU-burning child, reaps it, then waits: the reaped child's CPU
# time shows in this process's cutime, as a PySpark daemon's workers do
FAKE_DAEMON = """
import os, sys, time
pid = os.fork()
if pid == 0:
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    os._exit(0)
os.waitpid(pid, 0)
print("ready", flush=True)
sys.stdin.readline()
"""


def start(code, *args):
    return subprocess.Popen([sys.executable, "-c", code, *args],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)


def stop(proc):
    proc.stdin.close()
    proc.wait(timeout=10)


def test_process_tree_and_rss_cover_children():
    proc = start("import sys; print('ready', flush=True); sys.stdin.readline()")
    try:
        proc.stdout.readline()
        tree = procstat.process_tree()
        assert tree[0] == os.getpid() and proc.pid in tree
        assert procstat.rss_bytes(tree) > procstat.rss_bytes([os.getpid()])
        assert "-c" in procstat.cmdline(proc.pid)
    finally:
        stop(proc)


def test_python_worker_cpu_counts_reaped_workers():
    before = procstat.python_worker_cpu_s()
    proc = start(FAKE_DAEMON, "pyspark.daemon")
    try:
        proc.stdout.readline()
        assert procstat.cpu_seconds(proc.pid, with_children=True) >= 0.25
        assert procstat.python_worker_cpu_s() - before >= 0.25
    finally:
        stop(proc)


def test_peak_rss_sees_a_transient_child_allocation(monkeypatch):
    monkeypatch.setattr(procstat, "SAMPLE_INTERVAL_S", 0.01)
    base = procstat.rss_bytes(procstat.process_tree())
    with procstat.PeakRss() as rss:
        proc = start("import sys; b = bytearray(64 << 20); b[::4096] = b'x' * len(b[::4096]);"
                     " print('ready', flush=True); sys.stdin.readline()")
        try:
            proc.stdout.readline()
            rss.sample()
        finally:
            stop(proc)
    assert rss.samples >= 3
    assert rss.peak_bytes >= base + (48 << 20)
    assert rss.peak_mb == rss.peak_bytes / (1 << 20)
