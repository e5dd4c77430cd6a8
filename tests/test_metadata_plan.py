"""The six metadata checks as one shared plan (checks/metadata.py): the
same rows as the per-check plans they replaced, one plan for all checks
in the suite, loud failure on an empty rule list, and a bound on the
Spark jobs one suite run launches."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from semantic_log_detector_spark.checks.base import RunContext, part_row_counts, verdicts_from_violations
from semantic_log_detector_spark.checks.metadata import CheckSpec, run_checks
from semantic_log_detector_spark.checks.row_rules import default_clip_rules, run_row_rules
from tests import metadata_fixture as fx

GOLDEN = fx.read_golden(str(Path(__file__).parent / "data" / "metadata_golden.jsonl"))


@pytest.fixture(scope="module")
def check_outputs(spark):
    return fx.check_outputs(spark)


@pytest.mark.parametrize("check", fx.CHECKS)
def test_one_check_rows_match_per_check_plans(check_outputs, check):
    assert check_outputs[check] == GOLDEN["checks"][check]


def test_fused_plan_rows_match_one_check_calls(spark, check_outputs):
    """All six checks built as ONE plan give each check's rows unchanged."""
    from semantic_log_detector_spark.checks.column_stats import stats_spec
    from semantic_log_detector_spark.checks.frequency import frequency_spec
    from semantic_log_detector_spark.checks.referential import referential_spec
    from semantic_log_detector_spark.checks.row_rules import row_rules_spec
    from semantic_log_detector_spark.checks.transcript_quality import transcript_quality_spec
    from semantic_log_detector_spark.checks.uniqueness import uniqueness_spec

    clips, transcripts = fx.frames(spark)
    ctx = RunContext(run_id="golden", num_parts=fx.NUM_PARTS)
    res = run_checks(clips, ctx, [
        row_rules_spec(default_clip_rules(), clips.columns),
        stats_spec(),
        uniqueness_spec(),
        referential_spec(transcripts),
        frequency_spec(),
        transcript_quality_spec(allowed_langs=("en", "und"), min_quality=0.6),
    ])
    verdicts = res.verdicts.persist()
    violations = res.violations.persist()
    for check in fx.CHECKS:
        got = {
            kind: fx._rows(frame.filter(F.col("check_id") == check).drop("check_id"))
            for kind, frame in (("verdicts", verdicts), ("violations", violations))
        }
        assert got == check_outputs[check], check
    verdicts.unpersist()
    violations.unpersist()


def test_resume_with_differing_pending_parts_matches(spark, tmp_path):
    """A resumed suite whose checks stopped at different parts builds once
    per pending set and writes the same verdicts, violations and ledger
    rows as the per-check plans did."""
    assert fx.resume_outputs(spark, str(tmp_path / "out")) == GOLDEN["resume"]


def test_empty_rule_list_raises(spark):
    ctx = RunContext(run_id="t", num_parts=4)
    clips, _ = fx.frames(spark)
    with pytest.raises(ValueError):
        verdicts_from_violations(clips.limit(0), part_row_counts(
            clips.withColumn("part_id", F.lit(0)), ctx), ctx, [])
    with pytest.raises(ValueError):
        run_checks(clips, ctx, [CheckSpec("empty")])
    # no rule's column is present: the grid would be empty
    with pytest.raises(ValueError):
        run_row_rules(clips.select("clip_id"), default_clip_rules(), ctx)


# Spark jobs of one metadata-only suite run, measured when the checks
# were fused into one plan (the broadcast exchanges, the batched collect,
# the violations write); the per-check plans launched 15. The bound
# leaves room for 2 more.
SUITE_JOBS = 8


def test_suite_job_count_guard(spark, tmp_path):
    from semantic_log_detector_spark.plans.runner import METADATA_CHECKS, SuiteConfig, run_suite
    from semantic_log_detector_spark.sources.synth import clips_table, transcripts_table

    clips = clips_table(spark, 400, num_parts=8, with_bytes=False)
    transcripts = transcripts_table(spark, 400)
    cfg = SuiteConfig(num_parts=8, checks=("schema", *METADATA_CHECKS))
    sc = spark.sparkContext
    group = "test-suite-job-count"
    sc.setJobGroup(group, "metadata-only run_suite")
    try:
        run_suite(spark, clips, transcripts, str(tmp_path / "out"), cfg,
                  input_fingerprint="jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= SUITE_JOBS + 2, n_jobs
