"""Drift check: flags exactly the planted drifted partitions; decode errors
become violations; per-partition verdicts stable across parallelism."""

import json
from pathlib import Path

import pyspark.sql.functions as F

from semantic_log_detector_spark.checks.base import RunContext
from semantic_log_detector_spark.checks.drift import (
    decode_stats,
    drift_check,
    drift_scores_local,
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


def _merged_stats(df):
    """decode_stats' histogram ('h') and counter ('c') rows summed by
    (kind, part, feature, bin)."""
    return sorted(map(tuple, decode_stats(df, CTX16)
                      .filter(F.col("kind").isin("c", "h"))
                      .groupBy("kind", "part_id", "feature", "bin")
                      .agg(F.sum("cnt")).collect()))


def test_histograms_partition_invariant(clips_2k):
    one = _merged_stats(clips_2k)
    three = _merged_stats(clips_2k.repartition(3))
    assert {r[0] for r in one} == {"c", "h"}
    assert one == three


# A hand-made 3-part x 2-feature histogram (a part that hits one bin only,
# histogram bins the stored baseline lacks, baseline bins no part hits) and
# the (part, feature, psi, ks) scores the Spark window-plan scorer gave it.
GOLDEN = json.loads((Path(__file__).parent / "data" / "drift_scores_golden.json")
                    .read_text())


def _assert_golden_scores(got, want):
    got = {(p, f): (psi, ks) for p, f, psi, ks in got}
    want = {(p, f): (psi, ks) for p, f, psi, ks in want}
    assert set(got) == set(want) and len(want) == 6
    for k, (psi, ks) in want.items():
        assert abs(got[k][0] - psi) < 1e-12 and abs(got[k][1] - ks) < 1e-12, k


def test_local_scores_match_golden_self_baseline():
    hist = [tuple(r) for r in GOLDEN["hist"]]
    _assert_golden_scores(drift_scores_local(hist, CTX16), GOLDEN["self_baseline"])


def test_local_scores_match_golden_stored_baseline():
    """A stored baseline: the baseline's bins only, histogram bins outside
    them dropped, a baseline bin the parts never hit counted 0."""
    hist = [tuple(r) for r in GOLDEN["hist"]]
    baseline = [tuple(r) for r in GOLDEN["baseline"]]
    _assert_golden_scores(drift_scores_local(hist, CTX16, baseline),
                          GOLDEN["stored_baseline"])


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


def test_drift_verdicts_independent_of_num_parts(drift_res, clips_2k):
    """The R05x verdicts and violations depend on the data, not on
    ``num_parts``: a context with 8193 parts (the same part_ids, already a
    column of the table) scores the same histogram to the same rows."""
    wide = RunContext(run_id="t", num_parts=8193)
    res = drift_check(clips_2k, wide)

    def rows(df):
        return sorted(map(tuple, df.filter("rule_id LIKE 'R05%'").collect()))

    try:
        assert rows(res.verdicts) == rows(drift_res.verdicts)
        assert rows(res.violations) == rows(drift_res.violations)
        assert rows(res.violations)  # part 7 drifted
    finally:
        res.release()
