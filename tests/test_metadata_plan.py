"""The six metadata checks as one shared plan (checks/metadata.py): the
same rows as the per-check plans they replaced, one plan for all checks
in the suite, loud failure on an empty rule list, verdicts that do not
depend on how a run was resumed, and bounds on the Spark jobs one suite
run launches."""

import json
from pathlib import Path

import pytest

from semantic_log_detector_spark.checks.base import RunContext, execute
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
    plan = run_checks(clips, ctx, [
        row_rules_spec(default_clip_rules(), clips.columns),
        stats_spec(),
        uniqueness_spec(),
        referential_spec(transcripts),
        frequency_spec(),
        transcript_quality_spec(allowed_langs=("en", "und"), min_quality=0.6),
    ])
    verdicts, local, sparse = execute([plan], ctx)
    violations = local + [tuple(r) for r in sparse.select(
        "run_id", "part_id", "rule_id", "clip_id", "column", "observed",
        "expected", "severity", "explanation", "check_id").collect()]
    sparse.unpersist()

    def rows(rows, check):
        return sorted((list(r[1:-1]) for r in rows if r[-1] == check), key=json.dumps)

    for check in fx.CHECKS:
        got = {"verdicts": rows(verdicts, check), "violations": rows(violations, check)}
        assert got == check_outputs[check], check


def test_resume_with_differing_pending_parts_matches(spark, tmp_path):
    """A resumed suite whose checks stopped at different parts builds once
    per pending set and writes the same verdicts, violations and ledger
    rows as the per-check plans did."""
    assert fx.resume_outputs(spark, str(tmp_path / "out")) == GOLDEN["resume"]


def test_resumed_verdicts_equal_single_shot(spark, tmp_path):
    """Verdicts and violations do not depend on how a run was split: a
    resume whose checks stopped at different parts (several distinct
    pending part sets, one build each) writes, for every (check, part)
    it still had pending, the rows a single-shot run writes there."""
    from semantic_log_detector_spark.plans.runner import SuiteConfig, run_suite

    clips, transcripts = fx.frames(spark)
    single = str(tmp_path / "single")
    run_suite(spark, clips, transcripts, single,
              SuiteConfig(num_parts=fx.NUM_PARTS, checks=fx.CHECKS),
              input_fingerprint="fx")
    resumed = fx.resume_outputs(spark, str(tmp_path / "resumed"))
    check_of = {row[1]: check for check in fx.CHECKS
                for row in GOLDEN["checks"][check]["verdicts"]}
    assert len({tuple(fx.DONE_BEFORE.get(c, ())) for c in fx.CHECKS}) >= 4

    def pending(row) -> bool:
        return row[0] not in fx.DONE_BEFORE.get(check_of[row[1]], ())

    for kind in ("verdicts", "violations"):
        want = [r for r in fx._rows(spark.read.parquet(f"{single}/{kind}")) if pending(r)]
        assert resumed[kind] == want, kind


def test_empty_rule_list_raises(spark):
    ctx = RunContext(run_id="t", num_parts=4)
    clips, _ = fx.frames(spark)
    with pytest.raises(ValueError):
        run_checks(clips, ctx, [CheckSpec("empty")])
    # no rule's column is present: the grid would be empty
    with pytest.raises(ValueError):
        run_row_rules(clips.select("clip_id"), default_clip_rules(), ctx)


# Spark jobs of one metadata-only suite run, measured once verdicts were
# assembled on the driver (the uniqueness broadcast, the wave's one small
# collect, the violations write); the per-check plans launched 15, the
# fused plan with its verdict grid join 8. The bound leaves room for 2
# more.
SUITE_JOBS = 3
# Spark jobs of one run_suite call with all 8 checks, measured at the
# same point: 7, as many as the traced benchmark run's
# plans.runner.jobs (13 with the Spark-side verdict grids; 16 here)
ALL_CHECKS_JOBS = 7


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


def test_all_checks_job_count_guard(spark, tmp_path):
    from semantic_log_detector_spark.plans.runner import ALL_CHECKS, SuiteConfig, run_suite
    from semantic_log_detector_spark.sources.synth import clips_table, transcripts_table

    clips = clips_table(spark, 400, num_parts=8, with_bytes=True)
    transcripts = transcripts_table(spark, 400)
    cfg = SuiteConfig(num_parts=8, checks=ALL_CHECKS)
    sc = spark.sparkContext
    group = "test-all-checks-job-count"
    sc.setJobGroup(group, "all-checks run_suite")
    try:
        run_suite(spark, clips, transcripts, str(tmp_path / "out"), cfg,
                  input_fingerprint="jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= ALL_CHECKS_JOBS, n_jobs
