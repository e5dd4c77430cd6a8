"""Drift check: flags exactly the planted drifted partitions; decode errors
become violations; per-partition verdicts stable across parallelism."""

import pyspark.sql.functions as F

from semantic_log_detector_spark.checks.base import RunContext
from semantic_log_detector_spark.checks.drift import (
    decode_features,
    drift_check,
    histogram_partials,
)

CTX16 = RunContext(run_id="t", num_parts=16)

import pytest  # noqa: E402


@pytest.fixture(scope="module")
def drift_res(clips_2k):
    return drift_check(clips_2k, CTX16)


def test_drift_flags_exactly_planted_parts(drift_res):
    res = drift_res
    failed = {
        (r["rule_id"], r["part_id"])
        for r in res.verdicts.filter("NOT passed AND rule_id LIKE 'R05%'").collect()
    }
    drift_parts = {p for _, p in failed}
    assert drift_parts == {7}
    assert ("R050_drift_psi", 7) in failed


def test_decode_errors_are_violations_not_failures(drift_res):
    res = drift_res
    n_decode = res.violations.filter("rule_id = 'R060_decode'").count()
    assert n_decode >= 1  # planted truncated payloads
    # every decode violation names its clip
    assert res.violations.filter("rule_id='R060_decode' AND clip_id IS NULL").count() == 0


def test_histograms_partition_invariant(clips_2k):
    feats = decode_features(clips_2k, CTX16)
    h1 = histogram_partials(feats, CTX16)
    feats2 = decode_features(clips_2k.repartition(3), CTX16)
    h2 = histogram_partials(feats2, CTX16)
    assert h1.exceptAll(h2).count() == 0 and h2.exceptAll(h1).count() == 0


def test_local_and_spark_scores_agree(clips_2k):
    from semantic_log_detector_spark.checks.drift import drift_scores, drift_scores_local

    feats = decode_features(clips_2k, CTX16)
    hist = histogram_partials(feats, CTX16).cache()
    spark_side = {
        (r["part_id"], r["feature"]): (r["psi"], r["ks"])
        for r in drift_scores(hist, CTX16).collect()
    }
    local_side = {
        (p, f): (psi, ks)
        for p, f, psi, ks in drift_scores_local([tuple(r) for r in hist.collect()], CTX16)
    }
    hist.unpersist()
    assert set(spark_side) == set(local_side)
    for k, (psi, ks) in spark_side.items():
        lp, lk = local_side[k]
        assert abs(psi - lp) < 1e-9 and abs(ks - lk) < 1e-9


def test_normal_parts_psi_low(drift_res):
    res = drift_res
    psis = res.verdicts.filter("rule_id='R050_drift_psi' AND part_id != 7").select(
        F.regexp_extract("observed", r"max_psi=([0-9.]+)", 1).cast("double").alias("psi")
    ).collect()
    assert all(r["psi"] is not None and r["psi"] < 0.2 for r in psis)


def test_payload_quality_rules_flag_exactly_planted(spark):
    """R063/R064/R065 fire on exactly the planted clipped / silent /
    DC-biased clips (every codec family included) and never on clean ones
    — computed inside the same single decode pass (no extra payload read)."""
    import numpy as np

    from semantic_log_detector_spark.checks.drift import decode_stats
    from semantic_log_detector_spark.sources.synth import (
        DEFECT_RATES, _u01, clips_table)

    n = 20000
    i = np.arange(n)
    planted = {
        "R063_clipping": int((_u01(i, 25, 42) < DEFECT_RATES["audio_clipped"]).sum()),
        "R064_silence": int((_u01(i, 26, 42) < DEFECT_RATES["audio_silent"]).sum()),
        "R065_dc_offset": int((_u01(i, 27, 42) < DEFECT_RATES["audio_dc"]).sum()),
    }
    assert all(v > 0 for v in planted.values())  # the test plants something
    stats = decode_stats(clips_table(spark, n, with_bytes=True), CTX16)
    got = {
        r["feature"]: r["n"]
        for r in stats.filter(F.col("kind") == "v")
        .groupBy("feature").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["feature"] in planted
    }
    # exact: every planted defect detected THROUGH its codec roundtrip
    # (mulaw/alaw/adpcm included), zero false positives on clean clips
    assert got == planted


def test_bandwidth_rule_flags_exactly_planted_upsamples(spark):
    """R066 fires on exactly the planted half-rate (upsampled) clips whose
    codec roundtrip preserves the band-limit evidence — PCM/FLAC/G.711 —
    and NEVER on clean full-band clips. ADPCM-planted upsamples are
    exempt by design (its quantization floor ≈ −24 dB refills the high
    band; see HF_EXEMPT_CODECS), and fake-decoded opus/mp3 never carry
    the planted spectrum."""
    import numpy as np

    from semantic_log_detector_spark.checks.drift import decode_stats
    from semantic_log_detector_spark.sources.synth import (
        _CODEC_WEIGHTS, _CODECS, _u01, _weighted_pick, DEFECT_RATES,
        clips_table)

    n = 20000
    i = np.arange(n)
    u_ups = _u01(i, 28, 42) < DEFECT_RATES["audio_upsampled"]
    # the planting is the LAST elif of the defect chain — rows that drew an
    # earlier payload defect are not band-limited
    prior = (
        (_u01(i, 25, 42) < DEFECT_RATES["audio_clipped"])
        | (_u01(i, 26, 42) < DEFECT_RATES["audio_silent"])
        | (_u01(i, 27, 42) < DEFECT_RATES["audio_dc"])
    )
    codec = _weighted_pick(_u01(i, 10, 42), _CODECS, _CODEC_WEIGHTS).astype(object)
    codec[_u01(i, 11, 42) < DEFECT_RATES["codec_unknown"]] = "vorbis??"
    truncated = _u01(i, 22, 42) < DEFECT_RATES["bytes_truncated"]
    detectable = np.isin(codec.astype(str), ["pcm_s16le", "flac", "mulaw", "alaw"])
    expected = int((u_ups & ~prior & detectable & ~truncated).sum())
    assert expected > 0  # the fixture plants detectable upsamples

    stats = decode_stats(clips_table(spark, n, with_bytes=True), CTX16)
    got = (
        stats.filter((F.col("kind") == "v") & (F.col("feature") == "R066_bandwidth"))
        .count()
    )
    assert got == expected


def test_payload_quality_verdicts_in_suite(spark):
    """The quality rules surface as per-partition verdict rows of the
    drift check (pass/fail + violation rows), like R060/R061."""
    from semantic_log_detector_spark.sources.synth import clips_table

    res = drift_check(clips_table(spark, 4000, with_bytes=True), CTX16)
    rules = {r["rule_id"] for r in res.verdicts.select("rule_id").distinct().collect()}
    assert {"R063_clipping", "R064_silence", "R065_dc_offset"} <= rules
    viols = res.violations.filter(F.col("rule_id") == "R063_clipping").collect()
    assert viols and all(v["column"] == "bytes" and v["severity"] == "Medium"
                         and v["clip_id"] for v in viols)


def test_local_scores_with_stored_baseline_match_spark(spark, clips_2k):
    """A stored baseline is scored on the driver (drift_scores_local) with
    the Spark plan's semantics: the baseline's bins only, histogram bins
    outside them dropped, a baseline bin the parts never hit counted 0."""
    from semantic_log_detector_spark.checks.drift import (
        decode_stats, drift_scores, drift_scores_local)

    hist = (decode_stats(clips_2k, CTX16).filter(F.col("kind") == "h")
            .groupBy("part_id", "feature", "bin").agg(F.sum("cnt").alias("cnt"))
            .cache())
    # baseline: the even parts' histogram, without each feature's bin 3,
    # plus one bin no part hits
    even = (hist.filter(F.col("part_id") % 2 == 0).groupBy("feature", "bin")
            .agg(F.sum("cnt").alias("cnt")).filter(F.col("bin") != 3))
    baseline = even.unionByName(spark.createDataFrame(
        [("rms", 15, 5)], "feature string, bin int, cnt long")).cache()
    spark_side = {
        (r["part_id"], r["feature"]): (r["psi"], r["ks"])
        for r in drift_scores(hist, CTX16, baseline).collect()
    }
    local_side = {
        (p, f): (psi, ks)
        for p, f, psi, ks in drift_scores_local(
            [tuple(r) for r in hist.collect()], CTX16,
            [tuple(r) for r in baseline.collect()])
    }
    hist.unpersist()
    baseline.unpersist()
    assert set(spark_side) == set(local_side) and len(local_side) == 16 * 15
    for k, (psi, ks) in spark_side.items():
        lp, lk = local_side[k]
        assert abs(psi - lp) < 1e-12 and abs(ks - lk) < 1e-12, k


def test_observed_strings_match_spark_round_cast(spark):
    """The drift verdicts' observed numbers are formatted on the driver
    (base.spark_round_str) exactly as Spark prints CAST(round(x, 4) AS
    STRING): HALF_UP on the shortest decimal, Java's Double.toString
    layout (``1.0E-4``, ``1.2345678E7``)."""
    import numpy as np

    from semantic_log_detector_spark.checks.base import spark_round_str

    rng = np.random.default_rng(7)
    xs = list(10 ** rng.uniform(-6, 8, 10_000))
    # HALF_UP ties, the layout switches at 1e-3 and 1e7, exact decimals
    xs += [k * 1e-5 + 5e-5 for k in range(0, 2000, 7)]
    xs += [0.0, 1e-3, 9.99949e-4, 9.9995e-4, 1e7, 9999999.99995, 1e8, 0.00015,
           0.12345, 2.5e-5, 123.45675, 1e-6]
    xs += [-x for x in xs[:500]]
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    want = df.select("x", F.round("x", 4).cast("string").alias("s")).collect()
    bad = [(r["x"], r["s"], spark_round_str(r["x"], 4)) for r in want
           if spark_round_str(r["x"], 4) != r["s"]]
    assert len(want) >= 10_000 and bad == []


def test_spark_scorer_above_part_cap_gives_same_verdicts(drift_res, clips_2k):
    """Above LOCAL_PART_CAP the histogram is scored by the Spark plan and
    only per-part maxima are collected; the driver-side assembly then
    writes the same drift verdicts and violations as the local scorer."""
    from semantic_log_detector_spark.checks.drift import LOCAL_PART_CAP

    wide = RunContext(run_id="t", num_parts=LOCAL_PART_CAP + 1)  # same part_ids
    res = drift_check(clips_2k, wide)

    def rows(df):
        return sorted(map(tuple, df.filter("rule_id LIKE 'R05%'").collect()))

    try:
        assert rows(res.verdicts) == rows(drift_res.verdicts)
        assert rows(res.violations) == rows(drift_res.violations)
        assert rows(res.violations)  # part 7 drifted
    finally:
        res.release()
