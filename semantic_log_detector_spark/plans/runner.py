"""Run lifecycle: plan → execute check waves → verdicts/violations/ledger → report.

Spark-first restatement of the reference's 9-stage hand-sequenced DAG
(`src/ids/pipeline.py:76-231`): config → checks over pending partitions →
persisted outputs per stage. Instead of one monolithic pass, partitions are
processed in deterministic *waves* (part_id % waves) — each wave is one set
of Spark jobs followed by a ledger append, giving kill-anywhere resume at
wave granularity (micro-batch over a partition work-queue; the Structured-
Streaming-shaped replacement for the reference's asyncio queue,
`src/api/main.py:64-75`).

At cluster scale the input is an Iceberg/parquet table partitioned by
part_id, so each wave's `filter(part_id % waves = w)` is partition-pruned —
no full scans per wave. Checks within a wave reuse one cached projection.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checks.base import VIOLATION_COLS, CheckPlan, RunContext, ensure_part_id, execute
from ..checks.column_stats import DEFAULT_EXPECTATIONS, stats_spec
from ..checks.drift import drift_plan
from ..checks.frequency import frequency_spec
from ..checks.metadata import run_checks
from ..checks.referential import referential_spec
from ..checks.row_rules import default_clip_rules, row_rules_spec
from ..checks.schema_check import schema_check
from ..checks.transcript_quality import transcript_quality_spec
from ..checks.uniqueness import uniqueness_spec
from ..schema import CLIPS_SCHEMA
from . import ledger as ledger_mod

# The checks' one-check entry points. run_suite does not call them (it
# builds the shared plans); they stay importable from this module because
# perfbench's traced run wraps them here by name.
from ..checks.column_stats import stats_check  # noqa: F401
from ..checks.drift import drift_check  # noqa: F401
from ..checks.frequency import frequency_check  # noqa: F401
from ..checks.referential import referential_check  # noqa: F401
from ..checks.row_rules import run_row_rules  # noqa: F401
from ..checks.transcript_quality import transcript_quality_check  # noqa: F401
from ..checks.uniqueness import uniqueness_check  # noqa: F401

ALL_CHECKS = ("schema", "row_rules", "stats", "uniqueness", "referential",
              "frequency", "transcript_quality", "drift")
# checks compiled together into one shared plan per pending part set
# (checks/metadata.py); drift and schema build their own
METADATA_CHECKS = ("row_rules", "stats", "uniqueness", "referential",
                   "frequency", "transcript_quality")


@dataclass(frozen=True)
class SuiteConfig:
    num_parts: int = 64
    checks: tuple[str, ...] = ALL_CHECKS
    allowed_codecs: tuple[str, ...] = ("pcm_s16le", "flac", "mulaw", "alaw", "adpcm_ima", "opus", "mp3")
    sr_range: tuple[int, int] = (4000, 96000)
    dur_range: tuple[int, int] = (1, 12 * 3600 * 1000)
    rate_range: tuple[float, float] = (6.5, 26.5)  # R018 chars/sec band
    psi_threshold: float = 0.2
    ks_threshold: float = 0.2
    # R067 speech rate: transcript words vs VAD-measured speech seconds,
    # computed inside the drift check's decode pass (needs transcripts).
    # The decoded twin of the R018 metadata chars/sec rule — catches
    # transcripts paired with silence or the wrong clip. Bounds are
    # generous (natural speech ~2-3 wps); widen/disable for music corpora.
    speech_rate: bool = True
    wps_range: tuple[float, float] = (0.4, 8.0)
    # strict: clips whose declared codec has no REGISTERED real decoder are
    # violations; lenient (default): fake decodes pass but are counted and
    # reported per partition in the R062 verdict (never silent)
    strict_codecs: bool = False
    waves: int = 1
    # AQE during the batched wave actions. The suite's verdict/violation
    # plans have fixed shapes (per-part aggregates over a cached slice, one
    # equi-join) that the static planner already gets right; AQE's
    # stage-by-stage re-planning serializes the N independent check
    # subtrees inside the one batched action (measured 3.4× on the
    # collect: 7.7 s → 2.3 s at 60k clips / 32 cores). part_id is
    # pmod(xxhash64) — uniform by construction — so skew splitting buys
    # nothing here. Set True if the transcript join key is pathologically
    # skewed. Session AQE settings are untouched outside the action window.
    adaptive_wave_exec: bool = False
    # shuffle-partition count for the batched wave action. The frames
    # shuffled here are tiny by construction — verdicts are at most
    # parts×rules rows and violations are example-capped — so the session
    # default (sized for the big dedup/join queries) buys nothing and costs
    # ~0.25 s of task-launch latency per exchange × ~10 exchanges.
    # Measured at 60k clips / 32 cores: 8 partitions takes the combined
    # collect from 6.8 s to ~3.7 s. None = leave the session value.
    wave_shuffle_partitions: int | None = 8
    stats_expectations: tuple = tuple(
        (c, tuple(exps)) for c, exps in DEFAULT_EXPECTATIONS.items()
    )

    def config_hash(self) -> str:
        return hashlib.md5(
            json.dumps(asdict(self), sort_keys=True, default=str).encode()
        ).hexdigest()[:16]


@dataclass
class RunResult:
    run_id: str
    out_dir: str
    waves_run: int
    checks_run: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    n_rows: int = 0
    # per-phase wall seconds (accumulated over waves): plan build per check,
    # the batched collect, the two writes — the observability needed to keep
    # fixed (non-scaling) cost honest. Populated by run_suite.
    timings: dict = field(default_factory=dict)
    # populated by validate_increment(dup_check=True): counts + sink path of
    # the increment's cross-corpus content-duplicate pairs (ann_index)
    dup_check: dict | None = None


def _wave_parts(cfg: SuiteConfig, wave: int) -> list[int]:
    return [p for p in range(cfg.num_parts) if p % cfg.waves == wave]


def run_suite(
    spark: SparkSession,
    clips: DataFrame,
    transcripts: DataFrame | None,
    out_dir: str,
    cfg: SuiteConfig = SuiteConfig(),
    run_id: str | None = None,
    input_fingerprint: str = "",
    max_waves: int | None = None,
    clips_path: str | None = None,
    drift_baseline: DataFrame | None = None,
) -> RunResult:
    """Execute the configured check suite; everything lands under out_dir:
    verdicts/ violations/ ledger/ report.json. Re-running with the same
    (input_fingerprint, config) resumes: completed (check, part) pairs are
    skipped via the ledger anti-join.

    ``clips_path`` is accepted and ignored: the drift payload route comes
    from ``clips`` itself (``checks/drift.py::drift_plan``).

    ``drift_baseline``: a stored (feature, bin, cnt) histogram table for
    CROSS-RUN drift — each partition is scored against it instead of the
    run's own global histogram (the self-baseline misses an increment
    that drifted uniformly; see plans/incremental.py)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    ctx = RunContext(run_id=run_id, num_parts=cfg.num_parts,
                     config_hash=cfg.config_hash())
    ledger_path = f"{out_dir}/ledger"
    t_start = time.time()

    # drift routes its payload pass from the frame as the caller built it
    # (ensure_part_id adds a column, and the result is no longer a bare scan)
    caller_clips = clips
    clips = ensure_part_id(clips, ctx)
    result = RunResult(run_id=run_id, out_dir=out_dir, waves_run=0)

    # one ledger scan for the whole run; our own appends tracked in-memory
    done_map = ledger_mod.completed_map(
        spark, ledger_path, input_fingerprint, ctx.config_hash)

    # schema check is plan-time + global — run once, outside the wave loop
    if "schema" in cfg.checks:
        if -1 not in done_map.get("schema", set()):
            t0 = time.time()
            res = schema_check(clips, CLIPS_SCHEMA, ctx)
            # plan-time check → driver-local rows, sunk without Spark jobs
            ledger_mod.write_local_rows(
                f"{out_dir}/verdicts", res.metrics["local_verdicts"], "verdicts")
            ledger_mod.write_local_rows(
                f"{out_dir}/violations", res.metrics["local_violations"], "violations")
            ledger_mod.append(
                spark, ledger_path, run_id, "schema",
                [(-1, 0, len(res.metrics["local_violations"]))],
                (time.time() - t0) * 1000, input_fingerprint, ctx.config_hash)
            done_map.setdefault("schema", set()).add(-1)
            result.checks_run.append("schema")

    wave_checks = [c for c in cfg.checks if c != "schema"]
    n_waves = cfg.waves if max_waves is None else min(cfg.waves, max_waves)

    for wave in range(n_waves):
        parts = _wave_parts(cfg, wave)
        pending_by_check = {
            c: sorted(set(parts) - done_map.get(c, set())) for c in wave_checks
        }
        if not any(pending_by_check.values()):
            result.waves_run += 1
            continue

        union_parts = sorted({p for ps in pending_by_check.values() for p in ps})
        # partition-pruned slice of the input; cached once per wave so the
        # metadata-only checks share a single scan. NB: bytes intentionally
        # excluded from the cache — only drift reads them, streamed not cached.
        meta_cols = [c for c in clips.columns if c != "bytes"]
        # cache the metadata slice at a REDUCED partition count: the
        # metadata plan fans several map stages out of this cache (row
        # projection, per-part aggregate, uniqueness, referential), each
        # one task per cache partition; coalescing bounds the tiny tasks
        # at about a quarter with unchanged bytes (round 6; measured
        # collect 6.8 → 4.3 s at 60k clips). The
        # target is SCALE-ADAPTIVE, not a constant: an 8:1 merge floor —
        # scan splits are sized by TOTAL file bytes, and the cached
        # metadata columns are a small fraction of that, so 8 merged
        # splits of metadata stay far under one payload split's size —
        # never below the wave shuffle-partition count. A corpus-sized
        # table keeps thousands of cache partitions; only the
        # tiny-partition regime is compacted.
        meta_slice = clips.select(*meta_cols).filter(
            F.col(ctx.part_col).isin(union_parts))
        try:
            n_scan = meta_slice.rdd.getNumPartitions()
        except Exception:
            n_scan = 0
        n_cache_parts = max(cfg.wave_shuffle_partitions or 8, n_scan // 8)
        wave_meta = meta_slice.coalesce(n_cache_parts).cache()

        tr_part = F.pmod(F.xxhash64("clip_id"), F.lit(cfg.num_parts)).cast("int")

        # (checks, their pending parts, plan, build seconds) per build
        built: list[tuple[tuple[str, ...], list[int], CheckPlan, float]] = []
        drift_future = None
        try:
            # Build every pending check's (lazy) plan first, then execute the
            # whole wave with TWO Spark actions (checks/base.py::execute):
            # one collect of a small union — violation counts over the
            # persisted union of every sparse violation, per-part row
            # counts, part-level verdict rows — from which the driver
            # assembles every verdict (at most parts × rules; it writes
            # them and derives the ledger from them), and one write of the
            # persisted violations. Per-check actions are pure fixed
            # scheduling cost that does not shrink with cores.
            #
            # The metadata checks compile into ONE shared plan per distinct
            # pending part set (checks/metadata.py): one build for all of
            # them, or one per set on a resume where they stopped at
            # different parts.
            #
            # The drift build is EAGER (its decode pass materializes at
            # build time for the histogram and counter collect, and its
            # drift verdicts are judged on the driver), so it runs in a
            # driver thread while the main thread builds the metadata plan
            # (guide §2.6: overlap independent work — the cluster is busy
            # decoding while the driver does pure py4j plan construction).
            # InheritableThread carries the Spark thread-locals.
            def metadata_spec(check: str, pend: list[int]):
                if check == "row_rules":
                    return row_rules_spec(
                        default_clip_rules(cfg.allowed_codecs, cfg.sr_range,
                                           cfg.dur_range, cfg.rate_range),
                        meta_cols)
                if check == "stats":
                    return stats_spec({c: list(e) for c, e in cfg.stats_expectations})
                if check == "uniqueness":
                    return uniqueness_spec()
                if check == "referential":
                    # transcripts filtered to THIS check's pending parts
                    # (not the wave union) so resumed runs never emit
                    # verdicts for partitions outside their pending set
                    return referential_spec(transcripts.filter(tr_part.isin(pend)))
                if check == "frequency":
                    return frequency_spec(allowed=cfg.allowed_codecs)
                if check == "transcript_quality":
                    return transcript_quality_spec()
                raise ValueError(f"unknown check {check!r}")

            def build_drift(pend: list[int]) -> CheckPlan:
                return drift_plan(caller_clips, ctx,
                                  psi_threshold=cfg.psi_threshold,
                                  ks_threshold=cfg.ks_threshold,
                                  strict_codecs=cfg.strict_codecs,
                                  baseline=drift_baseline,
                                  pending_parts=pend,
                                  transcripts=(
                                      transcripts.filter(tr_part.isin(pend))
                                      if cfg.speech_rate and transcripts is not None
                                      else None),
                                  wps_range=cfg.wps_range)

            drift_pend = pending_by_check.get("drift", [])
            t_drift = 0.0
            if drift_pend:
                from concurrent.futures import ThreadPoolExecutor

                from pyspark import inheritable_thread_target

                t_drift = time.time()
                _pool = ThreadPoolExecutor(max_workers=1)
                drift_future = _pool.submit(
                    inheritable_thread_target(spark)(lambda: build_drift(drift_pend)))
                _pool.shutdown(wait=False)

            groups: dict[tuple[int, ...], list[str]] = {}
            for check in wave_checks:
                if check == "drift" or not pending_by_check[check]:
                    continue
                if check == "referential" and transcripts is None:
                    continue
                groups.setdefault(tuple(pending_by_check[check]), []).append(check)
            for pend_key, checks in groups.items():
                pend = list(pend_key)
                t0 = time.time()
                plan = run_checks(wave_meta.filter(F.col(ctx.part_col).isin(pend)), ctx,
                                  [metadata_spec(c, pend) for c in checks])
                built.append((tuple(checks), pend, plan, time.time() - t0))
            if drift_future is not None:
                plan = drift_future.result()
                drift_future = None
                built.append((("drift",), drift_pend, plan, time.time() - t_drift))

            if built:
                aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
                sp_before = spark.conf.get("spark.sql.shuffle.partitions", "200")
                sparse = None
                try:
                    if not cfg.adaptive_wave_exec:
                        spark.conf.set("spark.sql.adaptive.enabled", "false")
                    if cfg.wave_shuffle_partitions is not None:
                        spark.conf.set("spark.sql.shuffle.partitions",
                                       str(cfg.wave_shuffle_partitions))
                    t0 = time.time()
                    verdict_rows, local_viols, sparse = execute(
                        [plan for _, _, plan, _ in built], ctx)
                    t1 = time.time()
                    # verdicts are ≤ parts×rules rows: sunk on the driver as
                    # one file, with the violations judged on the driver
                    ledger_mod.write_local_rows(
                        f"{out_dir}/verdicts", [r[:-1] for r in verdict_rows],
                        "verdicts")
                    if local_viols:
                        ledger_mod.write_local_rows(
                            f"{out_dir}/violations", [r[:-1] for r in local_viols],
                            "violations")
                    t2 = time.time()
                    # sparse violations → a few files (not 100s of
                    # near-empty ones), written from the persisted frame
                    # the counts were taken over — no recompute
                    if sparse is not None:
                        sparse.select(*VIOLATION_COLS).coalesce(8).write.mode(
                            "append").parquet(f"{out_dir}/violations")
                    t3 = time.time()
                finally:
                    if sparse is not None:
                        sparse.unpersist()
                    spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
                    spark.conf.set("spark.sql.shuffle.partitions", sp_before)
                tm = result.timings
                tm["exec_collect_s"] = tm.get("exec_collect_s", 0.0) + (t1 - t0)
                tm["write_verdicts_s"] = tm.get("write_verdicts_s", 0.0) + (t2 - t1)
                tm["write_violations_s"] = tm.get("write_violations_s", 0.0) + (t3 - t2)

                # ledger part stats per (check, part): max rows, summed
                # violations over the check's verdict rows
                part_stats: dict[tuple[str, int], tuple[int, int]] = {}
                for _, part, _, _, n_rows, n_viol, _, _, check in verdict_rows:
                    nr, nv = part_stats.get((check, part), (0, 0))
                    part_stats[(check, part)] = (max(nr, n_rows), nv + n_viol)
                by_check = {c: (pend, build_s)
                            for checks, pend, _, build_s in built for c in checks}
                for check in wave_checks:
                    if check not in by_check:
                        continue
                    pend, build_s = by_check[check]
                    ledger_mod.append(
                        spark, ledger_path, run_id, check,
                        [(p, *part_stats.get((check, p), (0, 0))) for p in pend],
                        build_s * 1000, input_fingerprint, ctx.config_hash)
                    done_map.setdefault(check, set()).update(pend)
                    if check not in result.checks_run:
                        result.checks_run.append(check)
                for checks, _, _, build_s in built:
                    key = "plan_drift_s" if checks == ("drift",) else "plan_metadata_s"
                    tm[key] = tm.get(key, 0.0) + build_s
        finally:
            if drift_future is not None:
                # a metadata build raised while drift was still building:
                # await it so its persisted resources don't leak
                try:
                    for df in drift_future.result().resources:
                        df.unpersist()
                except Exception:
                    pass
            for _, _, plan, _ in built:
                for df in plan.resources:
                    df.unpersist()
            wave_meta.unpersist()
        result.waves_run += 1

    result.wall_s = time.time() - t_start
    return result


