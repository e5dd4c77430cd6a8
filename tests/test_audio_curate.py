"""Audio-corpus curation: planted corpus → exact kept set + total accounting."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_log_detector_spark.functions.audio import encode_wav
from semantic_log_detector_spark.operators.audio_curate import (
    audio_curation_summary,
    audio_profile,
    curate_audio_corpus,
)
from semantic_log_detector_spark.operators.dedup import unpersist_all
from semantic_log_detector_spark.sources.synth import content_dup_clips, melody_clips

SCHEMA = "clip_id string, codec string, bytes binary"


def _low_speech_clip(i):
    # 3 s with a single 0.3 s burst → speech_ratio ≈ 0.1
    sr = 16000
    sig = np.zeros(3 * sr)
    s0 = int(0.5 * sr)
    sig[s0 : s0 + int(0.3 * sr)] = 0.5 * np.sin(
        2 * np.pi * (500 + 60 * i) * np.arange(int(0.3 * sr)) / sr
    )
    return (f"low{i:03d}", "pcm_s16le", encode_wav(sig.astype(np.float32), sr))


@pytest.fixture(scope="module")
def corpus(spark):
    # 40 unique full-speech melodies (kept) + 40 clips with planted
    # cross-codec acoustic dups (canonical keeps only) + 6 low-speech +
    # 2 fake-codec + 2 undecodable + 1 digital-silence clip
    melodies = melody_clips(spark, 40, seed=11, dur_s=2.0).select(
        "clip_id", "codec", "bytes"
    )
    dups = content_dup_clips(spark, 40, seed=12, dup_rate=0.9).select(
        "clip_id", "codec", "bytes", "is_dup", "src_clip_id"
    )
    extras = [_low_speech_clip(i) for i in range(6)]
    tone = 0.5 * np.sin(2 * np.pi * 600 * np.arange(16000) / 16000)
    extras += [
        (f"fake{i}", "opus", encode_wav(tone.astype(np.float32), 16000))
        for i in range(2)
    ]
    extras += [(f"junk{i}", "pcm_s16le", b"\x01\x02" * 10) for i in range(2)]
    extras += [("silent0", "pcm_s16le",
                encode_wav(np.zeros(16000, dtype=np.float32), 16000))]
    extras_df = spark.createDataFrame(extras, SCHEMA)
    full = (
        melodies.unionByName(dups.select("clip_id", "codec", "bytes"))
        .unionByName(extras_df)
        .cache()
    )
    full.count()
    dup_truth = dups.select("clip_id", "is_dup", "src_clip_id").toPandas()
    yield full, dup_truth
    full.unpersist()


def test_curate_exact_kept_set(spark, corpus):
    full, dup_truth = corpus
    stats, arts = {}, {}
    kept = curate_audio_corpus(
        full, min_speech_ratio=0.3, drop_stats=stats, artifacts=arts
    )
    got = set(r["clip_id"] for r in kept.select("clip_id").collect())

    melody_ids = {f"m{i:010d}" for i in range(40)}
    dup_ids = set(dup_truth[dup_truth["is_dup"]]["clip_id"])
    all_dup_corpus = set(dup_truth["clip_id"])
    want = melody_ids | (all_dup_corpus - dup_ids)
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])

    # clusters artifact names exactly the planted dup pairs' members
    cl = arts["clusters"].toPandas()
    clustered = set(cl["id"])
    expected_members = dup_ids | set(
        dup_truth[dup_truth["is_dup"]]["src_clip_id"]
    )
    assert clustered == expected_members
    canon = set(cl[cl["is_canonical"]]["id"])
    assert canon == set(dup_truth[dup_truth["is_dup"]]["src_clip_id"])
    unpersist_all(stats)


def test_summary_buckets_account_for_every_clip(spark, corpus):
    full, dup_truth = corpus
    stats = {}
    kept = curate_audio_corpus(full, min_speech_ratio=0.3, drop_stats=stats)
    prof = audio_profile(full)
    buckets = {
        r["bucket"]: r["n_clips"]
        for r in audio_curation_summary(prof, kept, min_speech_ratio=0.3).collect()
    }
    n_dups = int(dup_truth["is_dup"].sum())
    assert buckets["undecodable"] == 2
    assert buckets["fake_decode"] == 2
    # 6 low-speech bursts + the all-silence clip (ratio 0.0)
    assert buckets["low_speech"] == 7
    assert buckets["dup_removed"] == n_dups
    assert buckets["kept"] == 40 + (40 - n_dups)
    assert sum(buckets.values()) == full.count()
    unpersist_all(stats)


def test_summary_counts_null_and_repeated_ids_once(spark):
    # two NULL ids and one id shared by two different clips: all six are
    # kept, and the summary must say so row for row (a plain join on
    # clip_id drops NULL ids from the kept side and pairs a shared id 2x2)
    ids = F.col("clip_id")
    clips = melody_clips(spark, 6, seed=3).withColumn(
        "clip_id",
        F.when(ids.isin("m0000000000", "m0000000001"), F.lit(None).cast("string"))
        .when(ids.isin("m0000000002", "m0000000003"), F.lit("twin"))
        .otherwise(ids),
    ).cache()
    stats = {}
    kept = curate_audio_corpus(clips, min_speech_ratio=0.0, drop_stats=stats)
    n_kept = kept.count()
    buckets = {
        r["bucket"]: r["n_clips"]
        for r in audio_curation_summary(audio_profile(clips), kept,
                                        min_speech_ratio=0.0).collect()
    }
    assert n_kept == 6
    assert buckets == {"kept": n_kept}
    assert sum(buckets.values()) == clips.count()
    unpersist_all(stats)
    clips.unpersist()


def test_profile_single_pass_fields(spark, corpus):
    full, _ = corpus
    prof = audio_profile(full).toPandas().set_index("clip_id")
    assert not prof.loc["junk0", "decode_ok"]
    assert prof.loc["fake0", "fake"] and prof.loc["fake0", "decode_ok"]
    assert prof.loc["silent0", "speech_ratio"] == 0.0
    assert prof.loc["silent0", "fp"] is None or np.isnan(prof.loc["silent0", "fp"])
    m0 = prof.loc["m0000000000"]
    assert m0["decode_ok"] and not m0["fake"]
    assert m0["speech_ratio"] > 0.9 and abs(m0["total_s"] - 2.0) < 0.01
    assert m0["fp"] is not None


def test_duration_gate_and_bucket(spark):
    sr = 16000
    rows = [
        ("short", "pcm_s16le",
         encode_wav((0.5 * np.sin(2 * np.pi * 700 * np.arange(sr // 4) / sr)
                     ).astype(np.float32), sr)),
        ("long", "pcm_s16le",
         encode_wav((0.5 * np.sin(2 * np.pi * 900 * np.arange(2 * sr) / sr)
                     ).astype(np.float32), sr)),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    stats = {}
    kept = curate_audio_corpus(df, min_speech_ratio=0.3, min_dur_s=1.0,
                               drop_stats=stats)
    assert [r["clip_id"] for r in kept.collect()] == ["long"]
    buckets = {
        r["bucket"]: r["n_clips"]
        for r in audio_curation_summary(
            audio_profile(df), kept, min_speech_ratio=0.3, min_dur_s=1.0
        ).collect()
    }
    assert buckets == {"out_of_duration": 1, "kept": 1}
    unpersist_all(stats)


def _snr_clip(cid, snr_db_target, sr=16000, dur_s=4.0):
    """Noise floor everywhere + a 2 s mid-clip tone sized for a target
    speech-vs-noise power ratio."""
    rng = np.random.Generator(np.random.Philox(key=hash(cid) & 0x7FFFFFFF))
    n = int(sr * dur_s)
    noise_rms = 10 ** (-45 / 20.0)  # -45 dBFS noise floor
    sig = noise_rms * rng.standard_normal(n)
    tone_rms = noise_rms * 10 ** (snr_db_target / 20.0)
    s0 = int(sr * 1.0)
    t = np.arange(2 * sr)
    sig[s0 : s0 + 2 * sr] += tone_rms * np.sqrt(2.0) * np.sin(2 * np.pi * 440 * t / sr)
    return (cid, "pcm_s16le", encode_wav(sig.astype(np.float32), sr))


def test_snr_estimate_known_answer(spark):
    rows = [_snr_clip("hi", 30.0), _snr_clip("lo", 12.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r["clip_id"]: r for r in audio_profile(df).collect()}
    # speech window power = tone + noise; estimate within ~2 dB of target
    assert abs(got["hi"]["snr_db"] - 30.0) < 2.0, got["hi"]["snr_db"]
    assert abs(got["lo"]["snr_db"] - 12.0) < 2.0, got["lo"]["snr_db"]
    # wall-to-wall tone: no noise frames to estimate from -> NULL
    tone = 0.3 * np.sin(2 * np.pi * 440 * np.arange(32000) / 16000)
    wall = spark.createDataFrame(
        [("wall", "pcm_s16le", encode_wav(tone.astype(np.float32), 16000))], SCHEMA)
    assert audio_profile(wall).collect()[0]["snr_db"] is None


def test_min_snr_gate_and_summary_bucket(spark):
    rows = [_snr_clip("hi", 30.0), _snr_clip("lo", 8.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    stats = {}
    kept = curate_audio_corpus(df, min_speech_ratio=0.2, min_snr_db=15.0,
                               drop_stats=stats)
    kept_ids = {r["clip_id"] for r in kept.collect()}
    assert kept_ids == {"hi"}
    prof = audio_profile(df)
    summary = {r["bucket"]: r["n_clips"] for r in audio_curation_summary(
        prof, kept, min_speech_ratio=0.2, min_snr_db=15.0).collect()}
    assert summary == {"kept": 1, "low_snr": 1}
    unpersist_all(stats)


def _pitched_clip(cid, kind, sr=16000, dur_s=2.0):
    """Full-scale, always-on signal: 'tone' = constant 220 Hz (flat pitch
    line), 'glide' = 140→280 Hz ramp (speech-like wandering track). Both
    pass the energy-VAD speech gate — only pitch can tell them apart."""
    n = int(sr * dur_s)
    t = np.arange(n) / sr
    if kind == "tone":
        sig = 0.4 * np.sin(2 * np.pi * 220.0 * t)
    else:
        f_inst = 140.0 * (1.0 + t / dur_s)
        sig = 0.4 * np.sin(2 * np.pi * np.cumsum(f_inst) / sr)
    return (cid, "pcm_s16le", encode_wav(sig.astype(np.float32), sr))


def test_profile_pitch_columns_opt_in(spark):
    rows = [_pitched_clip("tone0", "tone"), _pitched_clip("gl0", "glide")]
    df = spark.createDataFrame(rows, SCHEMA)
    # default: no pitch work, columns exist but are NULL
    off = {r["clip_id"]: r for r in audio_profile(df).collect()}
    assert off["tone0"]["median_f0_hz"] is None
    assert off["gl0"]["voiced_ratio"] is None
    on = {r["clip_id"]: r for r in audio_profile(df, with_pitch=True).collect()}
    assert abs(on["tone0"]["median_f0_hz"] - 220.0) < 7
    assert on["tone0"]["f0_spread_hz"] < 5 and on["tone0"]["voiced_ratio"] > 0.9
    assert on["gl0"]["f0_spread_hz"] > 25 and on["gl0"]["voiced_ratio"] > 0.8


def test_flat_pitch_gate_and_summary_bucket(spark):
    # both clips are wall-to-wall energy: the VAD gate alone keeps both;
    # only the pitch gate separates the synthetic tone from the glide
    rows = [_pitched_clip("tone0", "tone"), _pitched_clip("gl0", "glide")]
    df = spark.createDataFrame(rows, SCHEMA)
    stats = {}
    kept = curate_audio_corpus(df, min_speech_ratio=0.5,
                               drop_flat_pitch=True, drop_stats=stats)
    assert {r["clip_id"] for r in kept.collect()} == {"gl0"}
    prof = audio_profile(df, with_pitch=True)
    summary = {r["bucket"]: r["n_clips"] for r in audio_curation_summary(
        prof, kept, min_speech_ratio=0.5, drop_flat_pitch=True).collect()}
    assert summary == {"kept": 1, "flat_pitch": 1}
    unpersist_all(stats)
    # gate off: the tone is kept (pitch is opt-in contamination filtering)
    stats2 = {}
    kept_off = curate_audio_corpus(df, min_speech_ratio=0.5, drop_stats=stats2)
    assert {r["clip_id"] for r in kept_off.collect()} == {"tone0", "gl0"}
    unpersist_all(stats2)
