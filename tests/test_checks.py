"""Check framework: known-answer counts, verdict grid, column pruning."""

import pyspark.sql.functions as F

from semantic_log_detector_spark.checks.base import RunContext
from semantic_log_detector_spark.checks.column_stats import (
    grouped_profile,
    profile,
    stats_check,
)
from semantic_log_detector_spark.checks.frequency import frequency_check
from semantic_log_detector_spark.checks.referential import referential_check
from semantic_log_detector_spark.checks.row_rules import default_clip_rules, run_row_rules
from semantic_log_detector_spark.checks.schema_check import schema_check
from semantic_log_detector_spark.checks.uniqueness import uniqueness_check
from semantic_log_detector_spark.schema import CLIPS_SCHEMA
from semantic_log_detector_spark.sources.synth import transcripts_table

CTX = RunContext(run_id="t", num_parts=64)


def test_row_rules_match_planted_defects(meta_4k):
    res = run_row_rules(meta_4k, default_clip_rules(), CTX)
    by_rule = {r["rule_id"]: r["count"] for r in res.violations.groupBy("rule_id").count().collect()}
    # cross-check each rule against a directly-computed predicate count
    assert by_rule.get("R010_sr_null", 0) == meta_4k.filter("sr_hz IS NULL").count()
    assert by_rule.get("R011_sr_range", 0) == meta_4k.filter(
        "sr_hz IS NOT NULL AND (sr_hz < 4000 OR sr_hz > 96000)"
    ).count()
    assert by_rule.get("R014_codec_allowed", 0) == meta_4k.filter(
        "codec IS NULL OR codec NOT IN ('pcm_s16le','flac','mulaw','alaw','adpcm_ima','opus','mp3')"
    ).count()


def test_speaking_rate_rule_planted(spark):
    """R018 fires exactly for implausible transcript-length/duration pairs
    and stays quiet on nulls and zero durations (those are R010-R015's
    job — the try_divide guard keeps the predicate ANSI-safe)."""
    rows = [
        # (clip_id, sr_hz, dur_ms, codec, transcript)
        ("ok", 16000, 1000, "pcm_s16le", "ten chars."),          # 10.0 c/s
        ("slow", 16000, 60000, "pcm_s16le", "hi"),               # 0.03 c/s
        ("fast", 16000, 100, "pcm_s16le", "way too many characters"),  # 230 c/s
        ("nodur", 16000, None, "pcm_s16le", "some words here"),  # R012's job
        ("zerodur", 16000, 0, "pcm_s16le", "some words here"),   # R013's job
        ("notext", 16000, 1000, "pcm_s16le", None),              # R015's job
        ("empty", 16000, 1000, "pcm_s16le", "   "),              # R015's job
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, sr_hz int, dur_ms int, codec string, transcript string"
    ).withColumn("part_id", F.lit(0))
    res = run_row_rules(df, default_clip_rules(), CTX)
    hit = {
        r["clip_id"]
        for r in res.violations.filter("rule_id = 'R018_speaking_rate'").collect()
    }
    assert hit == {"slow", "fast"}


def test_row_rules_verdict_grid_complete(meta_4k):
    res = run_row_rules(meta_4k, default_clip_rules(), CTX)
    n_parts = meta_4k.select("part_id").distinct().count()
    n_rules = 7  # bytes rule skipped (metadata-only input)
    assert res.verdicts.count() == n_parts * n_rules
    # passed ⇔ zero violations
    assert res.verdicts.filter("passed AND n_violations > 0").count() == 0
    assert res.verdicts.filter("NOT passed AND n_violations = 0").count() == 0


def test_row_rules_never_read_bytes(spark, tmp_path, meta_4k):
    path = str(tmp_path / "clips.parquet")
    meta_4k.withColumn("bytes", F.lit(b"x")).write.parquet(path)
    df = spark.read.parquet(path)
    rules = [r for r in default_clip_rules() if r.column != "bytes"]
    res = run_row_rules(df.drop("bytes"), rules, CTX)
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "bytes" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_profile_matches_exact_stats(spark, meta_4k):
    prof = {r["column"]: r for r in profile(meta_4k, ["sr_hz", "dur_ms"]).collect()}
    exact = meta_4k.agg(
        F.avg("sr_hz").alias("m"),
        F.min("sr_hz").alias("mn"),
        F.max("sr_hz").alias("mx"),
        F.count("sr_hz").alias("nn"),
    ).first()
    assert abs(prof["sr_hz"]["mean"] - exact["m"]) < 1e-9
    assert prof["sr_hz"]["min"] == exact["mn"]
    assert prof["sr_hz"]["max"] == exact["mx"]
    assert prof["sr_hz"]["n_nonnull"] == exact["nn"]
    assert 0 < prof["sr_hz"]["null_rate"] < 0.05


def test_salted_grouped_profile_equals_naive(meta_4k):
    gp = grouped_profile(meta_4k, "codec", ["dur_ms"], salt_buckets=8)
    naive = meta_4k.groupBy("codec").agg(
        F.count(F.lit(1)).alias("count"),
        F.avg("dur_ms").alias("mean"),
        F.min(F.col("dur_ms").cast("double")).alias("mn"),
        F.max(F.col("dur_ms").cast("double")).alias("mx"),
    )
    j = gp.join(naive, "codec").collect()
    assert len(j) == gp.count()
    for r in j:
        assert r["count"] == r["count"]
        assert abs(r["dur_ms_mean"] - r["mean"]) < 1e-9
        assert r["dur_ms_min"] == r["mn"] and r["dur_ms_max"] == r["mx"]


def test_uniqueness_counts_every_dup_occurrence(meta_4k):
    res = uniqueness_check(meta_4k, CTX)
    expected = (
        meta_4k.groupBy("clip_id").count().filter("count > 1")
        .agg(F.sum("count")).first()[0]
    )
    assert res.violations.count() == expected


def test_referential_directions(spark, meta_4k):
    tr = transcripts_table(spark, 4000)
    res = referential_check(meta_4k, tr, CTX)
    by_rule = {r["rule_id"]: r["count"] for r in res.violations.groupBy("rule_id").count().collect()}
    missing = meta_4k.join(tr.select("clip_id"), "clip_id", "left_anti").count()
    orphans = tr.join(meta_4k.select("clip_id"), "clip_id", "left_anti").count()
    assert by_rule["R030_transcript_missing"] == missing
    assert by_rule["R031_transcript_orphan"] == orphans
    assert by_rule.get("R032_transcript_mismatch", 0) >= 1
    # orphan violations carry a partition id (wave-prunable)
    assert res.violations.filter("rule_id='R031_transcript_orphan' AND part_id IS NULL").count() == 0


def test_frequency_check_flags_unknown_codecs(meta_4k):
    res = frequency_check(meta_4k, CTX)
    expected = meta_4k.filter(
        "codec IS NULL OR codec NOT IN ('pcm_s16le','flac','mulaw','alaw','adpcm_ima','opus','mp3')"
    ).count()
    assert res.violations.count() == expected


def test_schema_check_detects_missing_and_type(spark, meta_4k):
    res = schema_check(meta_4k.drop("codec"), CLIPS_SCHEMA, CTX)
    rows = {r["rule_id"]: r["passed"] for r in res.verdicts.collect()}
    assert rows["R001_schema_missing_column"] is False
    bad = meta_4k.withColumn("sr_hz", F.col("sr_hz").cast("string"))
    res2 = schema_check(bad, CLIPS_SCHEMA, CTX)
    rows2 = {r["rule_id"]: r["passed"] for r in res2.verdicts.collect()}
    assert rows2["R003_schema_type_mismatch"] is False


def test_stats_check_empty_partition_passes(spark):
    from semantic_log_detector_spark.sources.synth import clips_table

    tiny = clips_table(spark, 10, with_bytes=False)  # most partitions empty
    res = stats_check(tiny, CTX)
    assert res.verdicts.filter("passed IS NULL").count() == 0
