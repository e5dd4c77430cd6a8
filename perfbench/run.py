#!/usr/bin/env python3
"""Benchmark of the validation engine: one workload per run, one JSON line.

    python3 perfbench/run.py --workload suite_payload --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run starts Spark at
``local[<cores>]`` (the process's CPU affinity), builds or reuses its seeded
inputs under ``.bench_build/``, runs the workload's untimed warm-up
operations (``WARMUP_OPS``), then repeats the workload's operation one at
a time (a closed loop with a single client) until ``--seconds`` have
passed, at least once. Every operation's outputs are checked against
recounts that do not use the engine. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1`` (see perfbench/README.md). Everything the run writes
stays under ``.bench_build/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

WORKLOADS = ("suite_payload", "curate_docs")
# documents in the curation corpus
DOCS = 4000
# untimed operations before the timed ones; the first (cold) one is part
# of setup_s. The second operation still runs about 10% slower than the
# later ones on both workloads; a second suite warm-up (~15 s) would not
# fit the time a round of runs may take.
WARMUP_OPS = {"suite_payload": 1, "curate_docs": 2}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the clip pool in a Spark session of its own, so the
    # measured session is equally cold whether or not it was cached
    ap.add_argument("--prepare-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def needs_clips(args) -> bool:
    # the traced curate_docs run drives the incremental feed over clip files
    return args.workload == "suite_payload" or bool(args.trace)


def clip_pool(spark=None):
    from benchlib import fixtures
    from benchlib.workloads import NUM_PARTS

    return fixtures.cached(BUILD / "fixtures", "pool", fixtures.POOL_FILES * fixtures.POOL_FILE_ROWS,
                           fixtures.POOL_SEED, fixtures.pool_builder(spark, NUM_PARTS))


def load_fixtures(args) -> dict:
    """The run's inputs by kind (``payload``: clips + transcripts,
    ``docs``), built from the seed when not cached."""
    from benchlib import fixtures

    root = BUILD / "fixtures"
    fx = {}
    if needs_clips(args):
        pool = clip_pool()
        fx["payload"] = fixtures.cached(root, "payload", fixtures.PICK_FILES * fixtures.POOL_FILE_ROWS,
                                        args.seed, fixtures.pick_builder(pool, args.seed))
    if args.workload == "curate_docs":
        fx["docs"] = fixtures.cached(root, "docs", DOCS, args.seed,
                                     fixtures.docs_builder(DOCS, args.seed))
    return fx


def prepare_fixtures(args, argv) -> float:
    """Build the clip pool, when the run needs it and it is not cached, in
    a child process; returns the seconds spent (0 when cached)."""
    from benchlib import fixtures

    t0 = time.perf_counter()
    if needs_clips(args) and not fixtures.exists(
            BUILD / "fixtures", "pool", fixtures.POOL_FILES * fixtures.POOL_FILE_ROWS,
            fixtures.POOL_SEED):
        subprocess.run([sys.executable, __file__, *argv, "--prepare-only"],
                       check=True, stdout=sys.stderr)
    return time.perf_counter() - t0


def driver_memory() -> str:
    """A quarter of host RAM, 1-8 GiB: the engine's 32g default would
    overcommit a small host shared with other processes."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(8, kib // (4 << 20)))}g"


def prepare_env(nproc: int) -> dict[str, str]:
    """Point every scratch location at .bench_build before Spark starts;
    returns the session's extra conf."""
    tmp = BUILD / "tmp"
    local = BUILD / "spark-local"
    for d in (tmp, local, BUILD / "runs"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the in-process audio probe must not start BLAS threads
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    # JVM scratch (temp files, perf data) too: both spark-submit's launcher
    # JVM and the driver JVM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    tempfile.tempdir = None
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(BUILD / "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and anything it started, and
    wait for each process to end."""
    from pyspark import SparkContext

    from benchlib import procstat

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.time() + 30
    while True:
        left = [p for p in procstat.process_tree() if p != me]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.1)


def prewarm(path: Path) -> None:
    """Read the fixture once so no timed operation pays cold disk reads."""
    for p in path.rglob("*.parquet"):
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


def safe_op(workload, out: Path, tracer=None):
    from benchlib.workloads import OpResult

    t0 = time.perf_counter()
    try:
        return workload.op(out, tracer)
    except Exception as e:  # counted as a failed operation
        return OpResult(time.perf_counter() - t0, workload.rows, [f"{type(e).__name__}: {e}"])


def main(argv=None) -> int:
    started = time.perf_counter()
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not (ROOT / "semantic_log_detector_spark" / "__init__.py").is_file():
        fail(f"engine package semantic_log_detector_spark not found in {ROOT}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    nproc = len(os.sched_getaffinity(0))
    conf = prepare_env(nproc)
    sys.path[:0] = [str(ROOT), str(HERE)]

    from semantic_log_detector_spark import session

    if args.prepare_only:
        spark = session.get_spark(master=f"local[{nproc}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            clip_pool(spark)
        finally:
            stop_spark(spark)
        return 0

    from benchlib import hostdiag

    ticks = hostdiag.cpu_ticks()
    run_id = f"{time.strftime('%Y%m%d-%H%M%S')}-{os.getpid()}-{args.workload}-s{args.seed}-t{args.trace}"
    record: dict = {"run": run_id, "args": vars(args), "cores": nproc,
                    "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                    "host": hostdiag.host_state(nproc)}
    work = BUILD / "work" / run_id
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (BUILD / "eventlog" / run_id).as_uri(),
            "spark.eventLog.compress": "false",
            # one plain file per session (Spark 4 rolls by default)
            "spark.eventLog.rolling.enabled": "false",
        })
        (BUILD / "eventlog" / run_id).mkdir(parents=True)
    record["fixture_s"] = prepare_fixtures(args, argv)
    fx = load_fixtures(args)
    record["fixtures"] = {k: f.meta for k, f in fx.items()}
    for f in fx.values():
        prewarm(f.path)

    t0 = time.perf_counter()
    spark = session.get_spark(master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        if args.trace:
            from benchlib.traced import traced_run

            result = traced_run(spark, args, fx, work, record)
            result["metrics"]["session.get_spark_s"] = (session_s, "s")
        else:
            result = timed_run(spark, args, fx, work, record, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        from benchlib.traced import finish_trace

        finish_trace(result, BUILD / "eventlog" / run_id, record)

    metrics = {k: {"value": v, "unit": unit}
               for k, (v, unit) in sorted(result["metrics"].items())}
    record["result"] = {k: result[k] for k in ("correct", "attempted", "failed")}
    record["metrics"] = metrics
    record["run_wall_s"] = time.perf_counter() - started
    record["host"]["steal_share"] = hostdiag.steal_share(ticks, hostdiag.cpu_ticks())
    (BUILD / "runs" / f"{run_id}.json").write_text(json.dumps(record, indent=1, default=str))
    print(f"perfbench: run={run_id} input_digest={record.get('input_digest')} "
          f"record=.bench_build/runs/{run_id}.json")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


def timed_run(spark, args, fx: dict, work: Path, record: dict, session_s: float) -> dict:
    from benchlib import hostdiag
    from benchlib.workloads import WORKLOADS, fresh_dir

    (inputs,) = fx.values()
    record["input_digest"] = inputs["input_digest"]
    workload = WORKLOADS[args.workload](spark, inputs)

    steal: list[float] = []

    def op(name: str):
        before = hostdiag.cpu_ticks()
        res = safe_op(workload, fresh_dir(work / name))
        steal.append(hostdiag.steal_share(before, hostdiag.cpu_ticks()))
        return res

    warm = [op(f"warmup{i}") for i in range(WARMUP_OPS[args.workload])]
    ops = []
    start = time.perf_counter()
    while not ops or time.perf_counter() - start < args.seconds:
        ops.append(op(f"op{len(ops)}"))
    record["warmup_s"] = [r.wall_s for r in warm]
    record["ops"] = [{"wall_s": r.wall_s, "errors": r.errors, "steal_share": s}
                     for r, s in zip([*warm, *ops], steal)]
    failed = sum(1 for r in [*warm, *ops] if r.errors)
    metrics = {
        "setup_s": (session_s + warm[0].wall_s, "s"),
        "rows_per_s": (workload.rows / statistics.median(r.wall_s for r in ops), "1/s"),
    }
    return {"correct": failed == 0, "attempted": len(warm) + len(ops), "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
