"""The traced run: per-layer metrics for one workload.

One Spark session with the event log on. Besides its own operation, each
workload's traced run exercises the layers its end-to-end figure depends
on; the two call shapes no untraced workload runs go to the shorter
curation run. The split keeps each traced run well under three minutes
on a contended 4-core host:

``suite_payload``
    layer probes (root span ``op.probe``): audio decode and features
    in-process, each check built and materialized on its own over one file
    of the clips table.
``curate_docs``
    probes of the curation stats projection and of the drift baseline
    pass; then the incremental feed (``op.feed``) over the clips table's
    files: bootstrap, one delta file, one no-op call; then the
    wave/resume/quarantine shape (``op.waves``).

Then the workload's own operation three times: as warm-up
(``op.warmup``), untraced — with the peak RSS of the process tree sampled
from /proc — and traced (``op.suite`` or ``op.curate``). The difference
of the last two is the tracing overhead.

Every run prints every per-layer metric; one of a layer the run does not
exercise reads 0. Span paths are the Spark job groups, so
:func:`finish_trace` reads jobs, stages, tasks, CPU, GC, shuffle and spill
per layer from the event log once the session has stopped.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.compute as pc

from semantic_log_detector_spark.checks import drift
from semantic_log_detector_spark.operators import curate
from semantic_log_detector_spark.plans import (
    incremental,
    ledger,
    report,
    runner,
    sketch_state,
)
from semantic_log_detector_spark.sources import payload_scan

from . import eventlog, oracles, procstat, workloads
from .tracing import Tracer, self_times

CHECKS = ("row_rules", "stats", "uniqueness", "referential", "frequency",
          "transcript_quality", "drift")
KIND = {"suite_payload": "suite", "curate_docs": "curate"}
# metrics of the layer probes, by unit; a run that does not probe a layer
# reports 0 for it
PROBES = {
    **{f"checks.{c}.{k}": unit for c in CHECKS
       for k, unit in (("s", "s"), ("violations", "count"))},
    "checks.schema.s": "s",
    "checks.drift.decode_stats_s": "s",
    "functions.audio.decode_s": "s",
    "functions.audio.clip_features_s": "s",
    "operators.textstats.doc_stats_s": "s",
}
RUNNER_CALLS = ("run_suite", "schema_check", "run_row_rules", "stats_check",
                "uniqueness_check", "referential_check", "frequency_check",
                "transcript_quality_check", "drift_check")


def install(tracer: Tracer) -> None:
    for attr in RUNNER_CALLS:
        tracer.wrap(runner, attr)
    for module, attr in (
        (incremental, "run_suite"), (incremental, "validate_increment"),
        (incremental, "list_data_files_df"),
        (ledger, "append"), (ledger, "completed_map"), (ledger, "write_local_rows"),
        (report, "write_report"), (sketch_state, "write_increment_sketches"),
        (drift, "decode_stats"), (payload_scan, "payload_stats_scan"),
        (curate, "curate_documents"), (curate, "minhash_lsh_pairs"),
        (curate, "dup_clusters"),
    ):
        tracer.wrap(module, attr)


def traced_run(spark, args, fx: dict, work: Path, record: dict) -> dict:
    own = KIND[args.workload]
    pay = fx["payload"]
    op = (workloads.SuitePayload(spark, pay) if own == "suite"
          else workloads.CurateDocs(spark, fx["docs"]))
    record["input_digest"] = fx["payload" if own == "suite" else "docs"]["input_digest"]

    tracer = Tracer(spark.sparkContext)
    m: dict[str, tuple] = {k: (0, unit) for k, unit in PROBES.items()}
    results: dict = {}
    feed = {"bootstrap_s": 0.0, "delta_s": 0.0, "noop_s": 0.0, "errors": []}

    def traced_op(kind: str, w) -> None:
        with tracer.span(f"op.{kind}"):
            results[kind] = w.op(workloads.fresh_dir(work / kind), tracer)

    install(tracer)
    try:
        with tracer.span("op.probe"):
            if own == "suite":
                m.update({k: (v, "s") for k, v in workloads.audio_probe(pay).items()})
                for k, v in workloads.check_probes(spark, pay, tracer).items():
                    m[k] = (v, PROBES[k])
            else:
                m["operators.textstats.doc_stats_s"] = (
                    workloads.doc_stats_probe(spark, fx["docs"], tracer), "s")
                m["checks.drift.decode_stats_s"] = (
                    workloads.decode_stats_probe(spark, pay, tracer), "s")
        if own == "curate":
            with tracer.span("op.feed"):
                feed = workloads.IncrementalFeed(spark, pay).run(work / "feed", tracer)
            traced_op("waves", workloads.WaveResume(spark, pay))
        traced_op("warmup", op)
        tracer.restore()
        with procstat.PeakRss() as rss:
            untraced = op.op(workloads.fresh_dir(work / "untraced"))
        install(tracer)
        cpu0 = procstat.python_worker_cpu_s()
        traced_op(own, op)
        cpu_py = procstat.python_worker_cpu_s() - cpu0
        skip_ratio = (_resume_skip_ratio(work / "waves" / "ledger")
                      if "waves" in results else 0.0)
    finally:
        tracer.restore()
    done = [untraced, *results.values()]
    errors = feed["errors"] + [e for r in done for e in r.errors]
    failed = int(bool(feed["errors"])) + sum(1 for r in done if r.errors)

    st = self_times(tracer.spans)

    def total(prefix: str, name: str) -> float:
        return sum(s.duration for s in _under(tracer, prefix, name))

    timings = results["suite"].info["timings"] if own == "suite" else []

    def timing(pred) -> float:
        return sum(v for t in timings for k, v in t.items() if pred(k))

    curated = results["curate"].info if own == "curate" else {}
    m.update({
        "functions.python_worker_cpu_s": (cpu_py, "s"),
        "sources.payload_scan.payload_stats_scan_s": (
            total("op.suite", "sources.payload_scan.payload_stats_scan"), "s"),
        "plans.runner.plan_s": (
            timing(lambda k: k.startswith("plan_") and k != "plan_drift_s"), "s"),
        "plans.runner.plan_drift_s": (timing(lambda k: k == "plan_drift_s"), "s"),
        "plans.runner.exec_collect_s": (timing(lambda k: k == "exec_collect_s"), "s"),
        "plans.runner.write_verdicts_s": (timing(lambda k: k == "write_verdicts_s"), "s"),
        "plans.runner.write_violations_s": (
            timing(lambda k: k == "write_violations_s"), "s"),
        "plans.runner.run_suite_self_s": (sum(
            st[s.id] for s in _under(tracer, "op.suite", "plans.runner.run_suite")), "s"),
        "plans.report.write_report_s": (total("op.suite", "plans.report.write_report"), "s"),
        "plans.ledger.append_s": (total("op.waves", "plans.ledger.append"), "s"),
        "plans.ledger.append_calls": (
            len(_under(tracer, "op.waves", "plans.ledger.append")), "count"),
        "plans.ledger.completed_map_s": (total("op.waves", "plans.ledger.completed_map"), "s"),
        "plans.ledger.resume_skip_ratio": (skip_ratio, "ratio"),
        "plans.waves.op_s": (results["waves"].wall_s if "waves" in results else 0.0, "s"),
        "plans.quarantine.split_s": (total("op.waves", "plans.quarantine.split"), "s"),
        "plans.incremental.bootstrap_s": (feed["bootstrap_s"], "s"),
        "plans.incremental.delta_s": (feed["delta_s"], "s"),
        "plans.incremental.noop_s": (feed["noop_s"], "s"),
        "plans.incremental.overhead_s": (
            feed["delta_s"] - total("op.feed/feed.delta", "plans.runner.run_suite"), "s"),
        "plans.incremental.list_data_files_df_s": (
            total("op.feed/feed.delta", "plans.incremental.list_data_files_df"), "s"),
        "plans.sketch_state.write_increment_sketches_s": (
            total("op.feed", "plans.sketch_state.write_increment_sketches"), "s"),
        "operators.dedup.minhash_lsh_pairs_s": (
            total("op.curate", "operators.dedup.minhash_lsh_pairs"), "s"),
        "operators.dedup.dup_clusters_s": (
            total("op.curate", "operators.dedup.dup_clusters"), "s"),
        "operators.dedup.dup_docs": (curated.get("dup_docs", 0), "count"),
        "operators.dedup.dropped_bucket_rows": (
            curated.get("drop_stats", {}).get("dropped_bucket_rows", 0), "count"),
        "procstat.peak_rss_mb": (rss.peak_mb, "MB"),
        "trace.op_untraced_s": (untraced.wall_s, "s"),
        "trace.op_traced_s": (results[own].wall_s, "s"),
        "trace.overhead_s": (results[own].wall_s - untraced.wall_s, "s"),
        "trace.spans": (len(tracer.spans), "count"),
    })
    tracer.dump(work.parent.parent / "runs" / f"{work.name}.spans.jsonl")
    # operations: the feed and the wave shape on curate_docs, this
    # workload's warm-up, untraced and traced op (the probes are
    # measurements)
    return {"correct": not errors, "attempted": 1 + len(results) + (own == "curate"),
            "failed": failed, "metrics": m, "errors": errors, "own": own}


def _under(tracer: Tracer, prefix: str, name: str) -> list:
    return [s for s in tracer.spans
            if s.name == name and s.path.startswith(prefix + "/")]


def _resume_skip_ratio(ledger_dir: Path) -> float:
    """Share of the run's (check, part) pairs the resumed call found done
    in the ledger: rows of the first call's run_id over all rows."""
    t = oracles.read(ledger_dir, ["run_id", "completed_at"])
    first = t.sort_by("completed_at").column("run_id")[0]
    return pc.sum(pc.equal(t.column("run_id"), first)).as_py() / t.num_rows


def finish_trace(result: dict, log_dir: Path, record: dict) -> None:
    """Event-log metrics, read after the session stopped and flushed it;
    the log is removed once parsed."""
    log = eventlog.parse(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    m = result["metrics"]
    for c in CHECKS:
        st = log.under(f"op.probe/checks.{c}")
        m[f"checks.{c}.cpu_s"] = (st.cpu_s, "s")
        m[f"checks.{c}.shuffle_write_bytes"] = (st.shuffle_write_bytes, "bytes")
        m[f"checks.{c}.tasks"] = (st.tasks, "count")
    runs = log.under("op.suite/plans.runner.run_suite")
    m["plans.runner.jobs"] = (runs.jobs, "count")
    m["plans.runner.stages"] = (runs.stages, "count")
    m["plans.runner.tasks"] = (runs.tasks, "count")
    own = log.under(f"op.{result['own']}")
    m["sources.input_bytes"] = (own.input_bytes, "bytes")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (getattr(own, k), "count")
    m["spark.cpu_s"] = (own.cpu_s, "s")
    m["spark.gc_s"] = (own.gc_s, "s")
    m["spark.shuffle_read_bytes"] = (own.shuffle_read_bytes, "bytes")
    m["spark.shuffle_write_bytes"] = (own.shuffle_write_bytes, "bytes")
    m["spark.spill_bytes"] = (own.spill_bytes, "bytes")
    m["spark.failed_tasks"] = (log.total().failed_tasks, "count")
    record["errors"] = result.pop("errors")
