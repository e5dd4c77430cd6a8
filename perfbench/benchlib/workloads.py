"""The benchmark's operations, each a call sequence a user of the engine
runs, plus the isolated layer probes of the traced run.

Every engine function is called through its module attribute
(``runner.run_suite``, ``report.write_report``, …) so the tracer's
wrappers see the calls; with no tracer installed they are the plain
functions.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.compute as pc
from pyspark.sql import functions as F

from semantic_log_detector_spark.checks import base as checks_base
from semantic_log_detector_spark.checks import drift as drift_mod
from semantic_log_detector_spark.checks import (
    column_stats,
    frequency,
    referential,
    row_rules,
    schema_check,
    transcript_quality,
    uniqueness,
)
from semantic_log_detector_spark.functions import audio
from semantic_log_detector_spark.operators import curate, dedup, textstats
from semantic_log_detector_spark.plans import incremental, quarantine, report, runner
from semantic_log_detector_spark.schema import CLIPS_SCHEMA

from . import oracles
from .fixtures import Fixture

# 32 engine partitions: at the suite's 4000 clips each holds ~125, enough
# for the drift check to flag exactly the planted parts
NUM_PARTS = 32


@dataclass
class OpResult:
    wall_s: float
    rows: int
    errors: list[str]
    info: dict = field(default_factory=dict)


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


class SuitePayload:
    """The CLI ``run`` call: all 8 checks over a payload table read through
    the payload-scan path, then ``write_report``."""

    name = "suite_payload"

    def __init__(self, spark, fx: Fixture):
        self.spark, self.fx = spark, fx
        self.rows = fx["rows"]
        self.expect = oracles.clip_expectations(fx.sub("clips"), fx.sub("transcripts"))

    def op(self, out: Path, tracer=None) -> OpResult:
        spark, fx = self.spark, self.fx
        t0 = time.perf_counter()
        clips = spark.read.parquet(fx.sub("clips"))
        transcripts = spark.read.parquet(fx.sub("transcripts"))
        res = runner.run_suite(spark, clips, transcripts, str(out),
                               runner.SuiteConfig(num_parts=NUM_PARTS),
                               input_fingerprint=fx["input_digest"],
                               clips_path=fx.sub("clips"))
        report.write_report(spark, str(out))
        wall = time.perf_counter() - t0
        errors = oracles.check_suite(out, self.expect, NUM_PARTS, drift=True,
                                     quarantine=False)
        return OpResult(wall, self.rows, errors, {"timings": [res.timings]})


class CurateDocs:
    """The CLI ``curate`` call: MinHash-LSH near-duplicate clusters,
    language and quality filters, kept set and cluster table written, then
    the summary over the written kept set."""

    name = "curate_docs"

    def __init__(self, spark, fx: Fixture):
        self.spark, self.fx = spark, fx
        self.rows = fx["rows"]
        # n_docs of the first operation: every later one on the same input
        # must repeat it
        self.n_docs: int | None = None

    def op(self, out: Path, tracer=None) -> OpResult:
        spark = self.spark
        t0 = time.perf_counter()
        docs = spark.read.parquet(self.fx.sub("docs"))
        drop_stats: dict = {}
        artifacts: dict = {}
        kept = curate.curate_documents(docs, exact_pairs=False,
                                       drop_stats=drop_stats, artifacts=artifacts)
        kept.write.mode("overwrite").parquet(str(out / "kept"))
        artifacts["clusters"].write.mode("overwrite").parquet(str(out / "dup_clusters"))
        summary = curate.curation_summary(spark.read.parquet(str(out / "kept"))).first().asDict()
        dedup.unpersist_all(drop_stats)
        wall = time.perf_counter() - t0
        errors = oracles.check_curation(out, self.fx.sub("docs"), summary)
        if self.n_docs is None:
            self.n_docs = summary.get("n_docs")
        elif summary.get("n_docs") != self.n_docs:
            errors.append(f"curation: n_docs {summary.get('n_docs')} differs from "
                          f"{self.n_docs} of an earlier operation on the same input")
        canonical = oracles.read(out / "dup_clusters", ["is_canonical"]).column("is_canonical")
        return OpResult(wall, self.rows, errors,
                        {"summary": summary, "drop_stats": drop_stats,
                         "dup_docs": len(canonical) - (pc.sum(canonical).as_py() or 0)})


WORKLOADS = {w.name: w for w in (SuitePayload, CurateDocs)}


# ------------------------------------------------------- traced-run probes


class WaveResume:
    """The CLI ``run --waves 2 --max-waves 1 --quarantine`` shape without
    drift, over one file of the clips table minus its payload column: the
    first call stops after one wave, the second resumes from the ledger,
    then ``write_report`` and the quarantine split writing the clean and
    quarantined views."""

    def __init__(self, spark, fx: Fixture):
        self.spark, self.fx = spark, fx
        self.clips_file = fx.files("clips")[0]
        self.expect = oracles.clip_expectations(self.clips_file, fx.sub("transcripts"))

    def op(self, out: Path, tracer=None) -> OpResult:
        spark, fx = self.spark, self.fx
        t0 = time.perf_counter()
        clips = spark.read.parquet(self.clips_file).drop("bytes")
        transcripts = spark.read.parquet(fx.sub("transcripts"))
        cfg = runner.SuiteConfig(
            num_parts=NUM_PARTS, waves=2,
            checks=tuple(c for c in runner.ALL_CHECKS if c != "drift"))
        fingerprint = f"meta:{fx['input_digest']}"
        first = runner.run_suite(spark, clips, transcripts, str(out), cfg,
                                 input_fingerprint=fingerprint, max_waves=1)
        resumed = runner.run_suite(spark, clips, transcripts, str(out), cfg,
                                   input_fingerprint=fingerprint)
        report.write_report(spark, str(out))
        with _span(tracer, "plans.quarantine.split"):
            qr = quarantine.split_quarantine(clips, spark.read.parquet(str(out / "violations")))
            qr.quarantined.write.mode("overwrite").parquet(str(out / "quarantined"))
            qr.clean.write.mode("overwrite").parquet(str(out / "clean"))
        wall = time.perf_counter() - t0
        errors = oracles.check_suite(out, self.expect, NUM_PARTS, drift=False,
                                     quarantine=True)
        return OpResult(wall, self.expect["rows"], errors,
                        {"timings": [first.timings, resumed.timings]})


class IncrementalFeed:
    """Nightly-delta shape over the clips table's files: the first
    hard-linked into an empty table dir and bootstrapped, then the last
    one landed as the delta, then a call that finds nothing new."""

    def __init__(self, spark, fx: Fixture):
        self.spark, self.fx = spark, fx

    def run(self, work: Path, tracer=None) -> dict:
        spark, fx = self.spark, self.fx
        table, out = fresh_dir(work / "table"), work / "out"
        shutil.rmtree(out, ignore_errors=True)
        transcripts = spark.read.parquet(fx.sub("transcripts"))
        files = fx.files("clips")
        base, delta = files[:1], files[-1]
        landed: list[str] = []

        def land(files: list[str]) -> None:
            for f in files:
                dest = table / Path(f).name
                os.link(f, dest)
                landed.append(str(dest))

        def call(label: str) -> tuple[int, float]:
            t0 = time.perf_counter()
            with _span(tracer, f"feed.{label}"):
                n_new, _ = incremental.validate_increment(
                    spark, str(table), str(out), runner.SuiteConfig(num_parts=NUM_PARTS),
                    transcripts)
            return n_new, time.perf_counter() - t0

        land(base)
        _, bootstrap_s = call("bootstrap")
        land([delta])
        n_delta, delta_s = call("delta")
        n_noop, noop_s = call("noop")
        errors = oracles.check_feed(out, landed, n_noop)
        if n_delta != 1:
            errors.append(f"delta call found {n_delta} new files, landed 1")
        return {"bootstrap_s": bootstrap_s, "delta_s": delta_s, "noop_s": noop_s,
                "errors": errors}


def check_probes(spark, fx: Fixture, tracer) -> dict:
    """Each check's public function built and materialized on its own over
    the first file of the clips table: verdicts aggregated (their
    n_violations summed), violations written to the noop sink. Span
    ``checks.<name>`` is also the job group."""
    ctx = checks_base.RunContext(run_id="probe", num_parts=NUM_PARTS)
    clips = checks_base.ensure_part_id(spark.read.parquet(fx.files("clips")[0]), ctx)
    transcripts = spark.read.parquet(fx.sub("transcripts"))
    meta = clips.drop("bytes")
    builders = {
        "row_rules": lambda: row_rules.run_row_rules(meta, row_rules.default_clip_rules(), ctx),
        "stats": lambda: column_stats.stats_check(meta, ctx),
        "uniqueness": lambda: uniqueness.uniqueness_check(meta, ctx),
        "referential": lambda: referential.referential_check(meta, transcripts, ctx),
        "frequency": lambda: frequency.frequency_check(meta, ctx),
        "transcript_quality": lambda: transcript_quality.transcript_quality_check(meta, ctx),
        "drift": lambda: drift_mod.drift_check(clips, ctx, transcripts=transcripts),
    }
    with tracer.span("checks.schema") as s:
        schema_check.schema_check(clips, CLIPS_SCHEMA, ctx)
    out = {"checks.schema.s": s.duration}
    for name, build in builders.items():
        with tracer.span(f"checks.{name}") as s:
            res = build()
            n_viol = res.verdicts.agg(F.sum("n_violations")).first()[0] or 0
            res.violations.write.format("noop").mode("overwrite").save()
            res.release()
        out[f"checks.{name}.s"] = s.duration
        out[f"checks.{name}.violations"] = n_viol
    return out


# payloads of the in-process audio probe
AUDIO_PROBE_N = 1000


def audio_probe(fx: Fixture) -> dict:
    """In-process decode and feature extraction over the first
    ``AUDIO_PROBE_N`` payloads of the fixture (no Spark)."""
    table = oracles.read(fx.sub("clips"), ["bytes", "codec"]).slice(0, AUDIO_PROBE_N)
    payloads = table.column("bytes").to_pylist()
    codecs = table.column("codec").to_pylist()
    t0 = time.perf_counter()
    decoded = []
    for buf, codec in zip(payloads, codecs):
        try:
            decoded.append(audio.decode_clip(buf, codec))
        except Exception:  # planted defects: truncated bytes, unknown codecs
            pass
    t1 = time.perf_counter()
    for pcm, sr in decoded:
        audio.clip_features(pcm, sr)
    t2 = time.perf_counter()
    return {"functions.audio.decode_s": t1 - t0,
            "functions.audio.clip_features_s": t2 - t1}


def decode_stats_probe(spark, fx: Fixture, tracer) -> float:
    """The drift baseline pass of a bootstrap increment, materialized on
    its own over the first file of the clips table."""
    ctx = checks_base.RunContext(run_id="probe", num_parts=NUM_PARTS)
    with tracer.span("checks.drift.decode_stats_probe") as s:
        (drift_mod.decode_stats(spark.read.parquet(fx.files("clips")[0]), ctx)
         .filter(F.col("kind") == "h").groupBy("feature", "bin")
         .agg(F.sum("cnt").alias("cnt"))
         .write.format("noop").mode("overwrite").save())
    return s.duration


def doc_stats_probe(spark, fx: Fixture, tracer) -> float:
    """curate_documents' per-document stats projection on its own."""
    docs = spark.read.parquet(fx.sub("docs"))
    with tracer.span("operators.textstats.doc_stats") as s:
        dedup._spread_small_input(docs).select(
            F.col("doc_id").alias("id"),
            textstats.token_count(F.col("text")).cast("long").alias("n_tokens"),
            textstats.quality_score(F.col("text")).alias("quality"),
            textstats.lang_id(F.col("text")).alias("lang_guess"),
        ).write.format("noop").mode("overwrite").save()
    return s.duration
