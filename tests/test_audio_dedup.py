"""Acoustic content-dup detection (operators/audio_dedup.py): the melody
fingerprint must be invariant to re-encoding across every REAL codec and
discriminative between contents, and the pair search must recover exactly
the planted duplicate set."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from semantic_log_detector_spark.operators.audio_dedup import (
    audio_dup_pairs,
    audio_fingerprint,
)
from semantic_log_detector_spark.sources.synth import content_dup_clips


@pytest.fixture(scope="module")
def corpus(spark):
    df = content_dup_clips(spark, 400, seed=11).cache()
    df.count()
    yield df
    df.unpersist()


def test_planted_pairs_recovered_exactly(spark, corpus):
    expected = {
        (r.src_clip_id, r.clip_id)
        for r in corpus.filter("is_dup").select("src_clip_id", "clip_id").collect()
    }
    assert len(expected) > 30  # the plant actually planted
    found = {
        (r.id_a, r.id_b)
        for r in audio_dup_pairs(corpus).select("id_a", "id_b").collect()
    }
    assert found == expected  # recall AND precision 1.0


def test_dup_pairs_cross_codec_and_rate(corpus):
    # every planted pair crosses codecs by construction (the detector
    # never sees equal bytes), and the independent sr draw makes ~half the
    # pairs ALSO cross sample rates — so the recovered-exactly test above
    # proves rate-invariant matching, not just codec-invariant
    pairs = (
        corpus.filter("is_dup")
        .alias("d")
        .join(
            corpus.alias("s"),
            F.col("d.src_clip_id") == F.col("s.clip_id"),
        )
        .select(
            F.col("d.codec").alias("ca"), F.col("s.codec").alias("cb"),
            F.col("d.sr_hz").alias("ra"), F.col("s.sr_hz").alias("rb"),
        )
        .collect()
    )
    assert pairs and all(r.ca != r.cb for r in pairs)
    assert any(r.ra != r.rb for r in pairs)


def test_fingerprint_rate_invariant(spark):
    # one content rendered at 8 kHz and 16 kHz (different noise): same fp
    import numpy as np

    from semantic_log_detector_spark.functions.audio import encode_wav

    bands = np.geomspace(200.0, 3800.0, 16)
    melody = np.random.default_rng(9).integers(0, 16, 15)
    rows = []
    for sr, nk in ((8000, 1), (16000, 2)):
        t = np.arange(sr) / sr
        seg = sr // 15
        sig = np.zeros(sr)
        for k in range(15):
            sl = slice(k * seg, (k + 1) * seg if k < 14 else sr)
            sig[sl] = 0.5 * np.sin(2 * np.pi * bands[melody[k]] * t[sl])
        sig += 0.02 * np.random.default_rng(nk).standard_normal(sr)
        rows.append((f"sr{sr}", encode_wav(sig.astype(np.float32), sr), "pcm_s16le"))
    pdf = pd.DataFrame(rows, columns=["clip_id", "bytes", "codec"])
    fps = {r.id: r.fp for r in audio_fingerprint(spark.createDataFrame(pdf)).collect()}
    assert fps["sr8000"] == fps["sr16000"] and fps["sr8000"] is not None


def test_fingerprint_codec_invariant(spark):
    # one content, five real codecs, five different noise realizations:
    # all fingerprints identical (hamming 0 across the full clique)
    from semantic_log_detector_spark.functions.adpcm import encode_adpcm
    from semantic_log_detector_spark.functions.audio import encode_wav
    from semantic_log_detector_spark.functions.flac import encode_flac
    from semantic_log_detector_spark.functions.g711 import encode_alaw, encode_mulaw

    sr = 16000
    t = np.arange(sr) / sr
    seg = sr // 15
    rng0 = np.random.default_rng(3)
    bands = np.geomspace(200.0, 3800.0, 16)
    melody = rng0.integers(0, 16, 15)
    sig = np.zeros(sr)
    for k in range(15):
        sl = slice(k * seg, (k + 1) * seg if k < 14 else sr)
        sig[sl] = 0.5 * np.sin(2 * np.pi * bands[melody[k]] * t[sl])
    encs = {
        "pcm_s16le": encode_wav,
        "flac": encode_flac,
        "mulaw": encode_mulaw,
        "alaw": encode_alaw,
        "adpcm_ima": encode_adpcm,
    }
    rows = []
    for j, (codec, enc) in enumerate(encs.items()):
        noisy = sig + 0.02 * np.random.default_rng(100 + j).standard_normal(sr)
        rows.append((codec, j, enc(noisy.astype(np.float32), sr), codec))
    pdf = pd.DataFrame(rows, columns=["clip_id", "j", "bytes", "codec"])
    df = spark.createDataFrame(pdf[["clip_id", "bytes", "codec"]])
    fps = audio_fingerprint(df).collect()
    assert all(not r.fake for r in fps)
    vals = {r.fp for r in fps}
    assert len(vals) == 1 and None not in vals


def test_fake_and_broken_rows_excluded(spark):
    from semantic_log_detector_spark.functions.audio import encode_wav

    sr = 16000
    sig = (0.5 * np.sin(2 * np.pi * 440 * np.arange(sr) / sr)).astype(np.float32)
    wav = encode_wav(sig, sr)
    pdf = pd.DataFrame(
        [
            ("real", wav, "pcm_s16le"),
            ("fakecodec", wav, "opus"),  # WAV-framed fake decode
            ("broken", b"nope", "pcm_s16le"),
        ],
        columns=["clip_id", "bytes", "codec"],
    )
    df = spark.createDataFrame(pdf)
    fps = {r.id: (r.fp, r.fake) for r in audio_fingerprint(df).collect()}
    assert fps["broken"][0] is None
    assert fps["fakecodec"][1] is True and fps["real"][1] is False
    # identical audio, but the fake row must not pair with the real one
    assert audio_dup_pairs(df).count() == 0
    assert audio_dup_pairs(df, include_fake=True).count() == 1


def _melody(sr: int, seconds: float, band_idx: np.ndarray, seed: int) -> np.ndarray:
    """Segment-tone melody (one tone per fingerprint segment) + noise."""
    bands = np.geomspace(200.0, 3800.0, 16)
    n = int(sr * seconds)
    t = np.arange(n) / sr
    seg = n // len(band_idx)
    sig = np.zeros(n)
    for k in range(len(band_idx)):
        sl = slice(k * seg, (k + 1) * seg if k < len(band_idx) - 1 else n)
        sig[sl] = 0.5 * np.sin(2 * np.pi * bands[band_idx[k]] * t[sl])
    sig += 0.02 * np.random.default_rng(seed).standard_normal(n)
    return sig.astype(np.float32)


def test_zero_length_and_silent_clips_yield_null_fp(spark):
    # ADVICE round 3: a valid WAV with a 0-byte data chunk must yield a
    # null fp (not crash the mapInPandas task via np.interp on an empty
    # array), and digitally-silent / sub-floor clips must NOT all collide
    # at fp=0 as Hamming-0 "duplicates"
    from semantic_log_detector_spark.functions.audio import encode_wav

    sr = 16000
    rows = [
        ("empty8k", encode_wav(np.zeros(0, np.float32), 8000), "pcm_s16le"),
        ("empty16k", encode_wav(np.zeros(0, np.float32), sr), "pcm_s16le"),
        ("silent_a", encode_wav(np.zeros(sr, np.float32), sr), "pcm_s16le"),
        ("silent_b", encode_wav(np.zeros(2 * sr, np.float32), sr), "pcm_s16le"),
        (
            "subfloor",
            encode_wav(np.full(sr, 3e-5, np.float32), sr), "pcm_s16le",
        ),
        ("tone", encode_wav(_melody(sr, 1.0, np.arange(15) % 16, 5), sr), "pcm_s16le"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "bytes", "codec"])
    )
    fps = {r.id: r.fp for r in audio_fingerprint(df).collect()}
    assert fps["empty8k"] is None and fps["empty16k"] is None
    assert fps["silent_a"] is None and fps["silent_b"] is None
    assert fps["subfloor"] is None
    assert fps["tone"] is not None
    assert audio_dup_pairs(df).count() == 0


def test_shared_intro_different_tail_not_paired(spark):
    # round-3 verdict #3: with the fingerprint spread across the WHOLE
    # clip, two clips sharing an identical first second (intro jingle)
    # but diverging afterwards must NOT collide — while a true full-length
    # re-encode of the same content still must
    from semantic_log_detector_spark.functions.audio import encode_wav
    from semantic_log_detector_spark.functions.g711 import encode_mulaw

    sr = 16000
    rng = np.random.default_rng(21)
    intro = _melody(sr, 1.0, rng.integers(0, 16, 15), 30)
    tail_a = _melody(sr, 1.0, rng.integers(0, 16, 15), 31)
    tail_b = _melody(sr, 1.0, (rng.integers(0, 16, 15) + 8) % 16, 32)
    a = np.concatenate([intro, tail_a])
    b = np.concatenate([intro, tail_b])
    rows = [
        ("a", encode_wav(a, sr), "pcm_s16le"),
        ("b", encode_wav(b, sr), "pcm_s16le"),
        # true dup of a: same full content, different codec + noise
        (
            "a_dup",
            encode_mulaw(
                a + 0.02 * np.random.default_rng(33).standard_normal(len(a)).astype(
                    np.float32
                ),
                sr,
            ),
            "mulaw",
        ),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "bytes", "codec"])
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in audio_dup_pairs(df).select("id_a", "id_b").collect()
    }
    assert pairs == {("a", "a_dup")}


def test_fingerprint_deterministic_across_partitioning(corpus):
    a = {r.id: r.fp for r in audio_fingerprint(corpus).collect()}
    b = {
        r.id: r.fp
        for r in audio_fingerprint(corpus.repartition(7, "codec")).collect()
    }
    assert a == b


def test_audio_decontaminate_planted(spark):
    """Acoustic decontamination: a training corpus containing re-encoded,
    resampled copies of eval-set clips loses EXACTLY those clips — clean
    clips survive, out-of-corpus eval items flag nothing."""
    from semantic_log_detector_spark.functions.audio import (
        decode_clip,
        resample_linear,
    )
    from semantic_log_detector_spark.functions.g711 import encode_mulaw
    from semantic_log_detector_spark.operators.audio_dedup import (
        audio_contamination_pairs,
        audio_decontaminate,
    )
    from semantic_log_detector_spark.sources.synth import melody_clips

    corpus = melody_clips(spark, 40, seed=21).cache()
    # benchmark = 5 corpus clips re-encoded 16k -> 8k mulaw (leaked) + 3
    # clips from a disjoint seed (clean eval items)
    leaked = sorted(
        corpus.filter("idx % 8 = 2").collect(), key=lambda r: r["idx"]
    )[:5]
    bench_rows = []
    for j, r in enumerate(leaked):
        pcm, sr = decode_clip(bytes(r["bytes"]), r["codec"])
        piece = resample_linear(np.asarray(pcm, np.float64), sr, 8000)
        bench_rows.append(
            (f"e{j}", encode_mulaw(piece.astype(np.float32), 8000), "mulaw")
        )
    for j, r in enumerate(melody_clips(spark, 3, seed=777).collect()):
        bench_rows.append((f"clean{j}", bytes(r["bytes"]), r["codec"]))
    bench = spark.createDataFrame(
        bench_rows, "clip_id string, bytes binary, codec string"
    )

    stats = {}
    pairs = audio_contamination_pairs(corpus, bench, drop_stats=stats)
    flagged = {r.clip_id for r in pairs.select("clip_id").collect()}
    assert flagged == {r["clip_id"] for r in leaked}
    assert stats["bench_fp_bands"] == 8 * 4  # every bench clip fingerprinted

    kept = audio_decontaminate(corpus, bench, drop_stats=stats)
    kept_ids = {r.clip_id for r in kept.select("clip_id").collect()}
    assert kept_ids == (
        {r.clip_id for r in corpus.select("clip_id").collect()}
        - {r["clip_id"] for r in leaked}
    )
    assert stats["decontaminated_clips"] == 5
    from semantic_log_detector_spark.operators.dedup import unpersist_all

    unpersist_all(stats)
    corpus.unpersist()


def test_audio_contamination_broadcast_guard(spark):
    """Above max_broadcast_fps the broadcast hint is dropped (warning) and
    the join still returns the same pairs via shuffle."""
    import warnings as _w

    from semantic_log_detector_spark.operators.audio_dedup import (
        audio_contamination_pairs,
    )
    from semantic_log_detector_spark.sources.synth import melody_clips

    corpus = melody_clips(spark, 12, seed=31).cache()
    bench = corpus.limit(4).select("clip_id", "bytes", "codec")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        pairs = audio_contamination_pairs(
            corpus, bench, max_broadcast_fps=2
        )
        got = {(r.clip_id, r.bench_id) for r in pairs.collect()}
    assert any("max_broadcast_fps" in str(w.message) for w in rec)
    # each bench clip is its own corpus source: identity pairs present
    assert {(a, b) for a, b in got if a == b} == {
        (r.clip_id, r.clip_id) for r in bench.select("clip_id").collect()
    }
    corpus.unpersist()


def test_empty_parquet_table_yields_no_fingerprints(spark, tmp_path):
    """An empty table on the row-group reader route: no row group to
    scan, an empty result (not a ZeroDivisionError from parallelize)."""
    path = str(tmp_path / "empty")
    content_dup_clips(spark, 4, seed=1).select("clip_id", "bytes", "codec") \
        .limit(0).write.parquet(path)
    fps = audio_fingerprint(spark.read.parquet(path))
    assert fps.columns[:3] == ["id", "fp", "fake"]
    assert fps.count() == 0
