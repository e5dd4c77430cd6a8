"""Direct test for the run report (reference report_generator.py:16-287
recast: dataset stats, rule tables, severity rollup, worst partitions,
examples, timings, robustness section, observations)."""

import json
import os

from semantic_log_detector_spark.plans.report import write_report
from semantic_log_detector_spark.plans.runner import SuiteConfig, run_suite
from semantic_log_detector_spark.sources.synth import clips_table, transcripts_table


def test_report_sections(spark, tmp_path):
    out = str(tmp_path / "run")
    clips = clips_table(spark, 3000)
    transcripts = transcripts_table(spark, 3000)
    run_suite(spark, clips, transcripts, out, SuiteConfig(),
              input_fingerprint="report_test")
    # drop a robustness report alongside to exercise its section
    rob = {
        "overall_robustness_score": 0.97,
        "noise_tests": [
            {"noise_level": 0.01,
             "summary": {"mean_stability": 1.0, "detection_retention": 1.0}}
        ],
    }
    with open(f"{out}/robustness_report.json", "w") as f:
        json.dump(rob, f)

    report = write_report(spark, out)

    # json shape
    assert report["dataset"]["n_rows_total"] == 3000
    assert report["dataset"]["n_parts"] == 64
    rule_ids = {r["rule_id"] for r in report["rules"]}
    assert {"R060_decode", "R050_drift_psi", "R062_codec_fidelity"} <= rule_ids
    assert report["severity"].get("Critical", 0) > 0  # planted truncated bytes
    assert len(report["worst_partitions"]) > 0
    assert any(e["clip_id"] for e in report["examples"])
    assert "drift" in report["timings_ms"]
    assert report["robustness"]["overall_robustness_score"] == 0.97
    # suite-level honesty margin: the synth corpus plants opus/mp3 rows
    # that route through the deterministic fake decoder — the corpus-wide
    # fake share must be ONE visible number
    assert report["dataset"]["n_fake_decoded"] > 0
    assert 0.0 < report["dataset"]["fake_fraction"] < 1.0

    # markdown rendering
    md = open(os.path.join(out, "report.md")).read()
    for section in ("## 1. Dataset", "## 2. Rule results",
                    "## 3. Violations by severity", "## 4. Worst partitions",
                    "## 5. Example violations", "## 6. Check timings",
                    "## 7. Robustness", "## Observations"):
        assert section in md, f"missing section {section!r}"
    assert "R050_drift_psi" in md
    assert "fake-decoded payloads" in md


def test_report_training_data_sections(spark, tmp_path):
    """Curation accounting, decontamination counts, and the dup-cluster
    summary render when the curate pass left its artifacts in out_dir."""
    from semantic_log_detector_spark.operators.curate import (
        curate_documents, curation_summary)

    out = str(tmp_path / "run2")
    clips = clips_table(spark, 1500)
    transcripts = transcripts_table(spark, 1500)
    run_suite(spark, clips, transcripts, out, SuiteConfig(),
              input_fingerprint="report_td_test")

    # tiny corpus with a planted 3-chain near-dup cluster + a junk doc
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 8
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra tail words here"),
         (3, base + " extra tail words here now"),
         (10, "completely different text about spark shuffles and partitions "
              "written at length to pass the quality and token thresholds " * 6),
         (99, "zz")],  # fails quality
        ["doc_id", "text"],
    )
    arts, stats = {}, {"decontaminated_docs": 4}  # decontamination count as the CLI records it
    kept = curate_documents(docs, exact_pairs=True, jaccard_threshold=0.5,
                            min_quality=0.2, langs=(), drop_stats=stats,
                            artifacts=arts)
    kept.write.mode("overwrite").parquet(f"{out}/kept")
    arts["clusters"].write.mode("overwrite").parquet(f"{out}/dup_clusters")
    summary = curation_summary(spark.read.parquet(f"{out}/kept")).first().asDict()
    summary["drop_stats"] = {k: v for k, v in stats.items() if k != "persisted"}
    with open(f"{out}/curation_summary.json", "w") as f:
        json.dump(summary, f, default=str)

    report = write_report(spark, out)
    assert report["curation"]["n_docs"] == summary["n_docs"]
    assert report["curation"]["drop_stats"]["decontaminated_docs"] == 4
    dc = report["dup_clusters"]
    assert dc["n_clusters"] == 1
    assert dc["n_docs_in_clusters"] == 3      # the planted 1-2-3 chain
    assert dc["n_docs_removed"] == 2          # one canonical kept
    assert dc["largest"][0]["size"] == 3

    md = open(os.path.join(out, "report.md")).read()
    assert "## 8. Training-data curation" in md
    assert "## 9. Duplicate clusters" in md
    assert "removed for benchmark overlap" in md
    assert "one canonical kept per cluster" in md


def _spark_rollups(spark, out):
    """The verdict, violation and ledger rollups of the report computed as
    Spark aggregations over the written parquet — the reference the
    driver-side rollups of ``summarize`` must equal."""
    from pyspark.sql import functions as F

    verdicts = spark.read.parquet(f"{out}/verdicts")
    by_rule = (
        verdicts.groupBy("rule_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("passed"), 1).otherwise(0)).alias("passed"),
             F.sum("n_violations").alias("nv"))
        .orderBy("rule_id").collect()
    )
    failed = (verdicts.filter(~F.col("passed"))
              .select("part_id", "rule_id", "observed")
              .orderBy("rule_id", "part_id").limit(1000).collect())
    ds = (verdicts.filter(F.col("part_id") >= 0).groupBy("part_id")
          .agg(F.max("n_rows").alias("n_rows"))
          .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("n_rows").alias("tot"),
               F.min("n_rows").alias("lo"), F.max("n_rows").alias("hi"))
          .first())
    fk = (verdicts.filter((F.col("rule_id") == "R062_codec_fidelity")
                          & (F.col("part_id") >= 0)
                          & F.col("observed").rlike(r"n_fake_decoded=\d+"))
          .agg(F.sum(F.regexp_extract("observed", r"n_fake_decoded=(\d+)", 1)
                     .cast("long")).alias("n_fake"),
               F.sum("n_rows").alias("n_rows"))
          .first())
    violations = spark.read.parquet(f"{out}/violations")
    led = spark.read.parquet(f"{out}/ledger")
    return {
        "dataset": {
            "n_parts": ds["n_parts"], "n_rows_total": int(ds["tot"] or 0),
            "min_part_rows": int(ds["lo"] or 0), "max_part_rows": int(ds["hi"] or 0),
            "n_fake_decoded": int(fk["n_fake"]),
            "fake_fraction": round(fk["n_fake"] / fk["n_rows"], 6),
        },
        "rules": [
            {"rule_id": r["rule_id"], "partitions": r["n"], "passed": r["passed"],
             "pass_rate": round(r["passed"] / max(r["n"], 1), 6), "violations": r["nv"]}
            for r in by_rule
        ],
        "failed_partitions": [
            {"part_id": r["part_id"], "rule_id": r["rule_id"], "observed": r["observed"]}
            for r in failed
        ],
        "overall_passed": all(r["passed"] == r["n"] for r in by_rule),
        "severity": {r["severity"]: r["n"] for r in violations.groupBy("severity")
                     .agg(F.count(F.lit(1)).alias("n")).collect()},
        "worst_partitions": [
            {"part_id": r["part_id"], "violations": r["n"]}
            for r in violations.groupBy("part_id").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("part_id")).limit(10).collect()
        ],
        "timings_ms": {r["check_id"]: round(r["ms"], 1) for r in led.groupBy("check_id")
                       .agg(F.max("wall_ms").alias("ms")).collect()},
    }


def test_summarize_rollups_match_spark_aggregations(spark, tmp_path):
    """Multi-run out_dir: two suite runs (different inputs and lineages,
    so every (part, rule) appears twice) plus row-rule violations appended
    by the per-batch streaming projection. The driver-side rollups equal
    the Spark aggregations over the same parquet."""
    from semantic_log_detector_spark.checks.base import RunContext
    from semantic_log_detector_spark.checks.row_rules import default_clip_rules
    from semantic_log_detector_spark.plans.report import summarize
    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_row_violations,
    )

    out = str(tmp_path / "multi")
    cfg = SuiteConfig(num_parts=8)
    run_suite(spark, clips_table(spark, 400, num_parts=8), transcripts_table(spark, 400),
              out, cfg, input_fingerprint="first")
    run_suite(spark, clips_table(spark, 300, num_parts=8, seed=7),
              transcripts_table(spark, 300, seed=7), out, cfg, input_fingerprint="second")
    viol = stream_row_violations(
        clips_table(spark, 200, num_parts=8, seed=9, with_bytes=False),
        default_clip_rules(), RunContext(run_id="stream", num_parts=8))
    viol.write.mode("append").parquet(f"{out}/violations")

    got = summarize(spark, out)
    want = _spark_rollups(spark, out)
    assert got["dataset"]["n_parts"] == 8
    assert got["dataset"]["n_fake_decoded"] > 0
    for key in ("rules", "failed_partitions"):
        # ties in the (rule_id, part_id) order come from the two runs;
        # their relative order is not defined
        assert sorted(map(json.dumps, got[key])) == sorted(map(json.dumps, want[key])), key
    assert [r["rule_id"] for r in got["rules"]] == [r["rule_id"] for r in want["rules"]]
    for key in ("dataset", "overall_passed", "severity", "worst_partitions", "timings_ms"):
        assert got[key] == want[key], key
