"""One decoder and one reader for every payload pass: `decode_batch`
against the scalar decode (no Spark), a source guard that keeps decoding
and reading in those two places, and NULL clip ids staying NULL."""

import ast
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from semantic_log_detector_spark.functions import audio
from semantic_log_detector_spark.sources.synth import _ENCODERS

PKG = Path(audio.__file__).resolve().parents[1]


def _pcm(sr=16000, ms=300, hz=440.0):
    t = np.arange(int(sr * ms / 1000)) / sr
    return (0.3 * np.sin(2 * np.pi * hz * t)).astype(np.float32)


def _batch():
    """Every codec family the synthetic source emits (real encoders, the
    WAV-framed fake opus/mp3 and an unknown label), a real-magic opus
    payload, a NULL payload and a corrupt ADPCM payload, ADPCM rows
    interleaved with the others."""
    wav = audio.encode_wav(_pcm(), 16000)
    adpcm = _ENCODERS["adpcm_ima"](_pcm(hz=660.0), 16000)
    rows = [
        ("pcm_s16le", wav),
        ("adpcm_ima", adpcm),
        ("flac", _ENCODERS["flac"](_pcm(), 16000)),
        ("adpcm_ima", adpcm[:60]),  # corrupt: data chunk cut short
        ("mulaw", _ENCODERS["mulaw"](_pcm(sr=8000), 8000)),
        ("alaw", _ENCODERS["alaw"](_pcm(sr=8000), 8000)),
        ("opus", wav),  # fake-decoded
        ("mp3", wav),
        ("opus", b"OggS" + b"\x00" * 100),  # real container magic
        ("vorbis??", wav),
        ("flac", None),
        ("adpcm_ima", _ENCODERS["adpcm_ima"](_pcm(sr=8000), 8000)),
    ]
    codecs = [c for c, _ in rows]
    return pa.array([b for _, b in rows], pa.binary()), codecs, rows


def test_decode_batch_matches_scalar_decode():
    payloads, codecs, rows = _batch()
    got = list(audio.decode_batch(payloads, codecs))
    assert len(got) == len(rows)
    kinds = set()
    for (codec, buf), r in zip(rows, got):
        try:
            want = audio.decode_clip_ex(buf, codec)
        except Exception as e:
            assert isinstance(r, Exception), codec
            assert (type(r), str(r)) == (type(e), str(e)), codec
            kinds.add(type(e))
            continue
        assert not isinstance(r, Exception), (codec, r)
        pcm, sr, fake = r
        assert (sr, fake) == want[1:], codec
        assert pcm.dtype == want[0].dtype and np.array_equal(pcm, want[0]), codec
    # the batch really holds failures of both kinds next to good rows
    assert kinds == {ValueError, NotImplementedError}


def test_decode_batch_bad_row_leaves_neighbours_unchanged():
    payloads, codecs, rows = _batch()
    clean = [i for i, (c, b) in enumerate(rows)
             if not isinstance(next(audio.decode_batch(pa.array([b], pa.binary()), [c])),
                               Exception)]
    alone = {i: next(audio.decode_batch(pa.array([rows[i][1]], pa.binary()),
                                        [rows[i][0]])) for i in clean}
    together = list(audio.decode_batch(payloads, codecs))
    for i in clean:
        assert np.array_equal(together[i][0], alone[i][0])
        assert together[i][1:] == alone[i][1:]


def test_decode_batch_decodes_lazily(monkeypatch):
    """Rows that are not ADPCM are decoded only when the consumer reaches
    them: a clip-by-clip kernel holds one PCM at a time."""
    payloads, codecs, _ = _batch()
    calls = []
    real = audio.decode_clip_ex

    def spy(buf, codec):
        calls.append(codec)
        return real(buf, codec)

    monkeypatch.setattr(audio, "decode_clip_ex", spy)
    gen = audio.decode_batch(payloads, codecs)
    for n in range(len(codecs)):
        next(gen)
        assert calls == [c for c in codecs[:n + 1] if c != "adpcm_ima"]
    assert next(gen, None) is None


def _calls(tree, names):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in names:
                yield node.lineno


def test_one_decoder_one_reader_in_the_source():
    """Only functions/audio.py calls decode_clip_ex (everything else goes
    through decode_batch), and the payload operators read through
    map_payloads, not a reader of their own."""
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "functions" / "audio.py":
            continue
        lines = list(_calls(ast.parse(path.read_text()), {"decode_clip_ex"}))
        assert not lines, f"{path.relative_to(PKG)} calls decode_clip_ex at {lines}"
    for mod in ("features", "segment", "augment", "audio_curate"):
        path = PKG / "operators" / f"{mod}.py"
        lines = list(_calls(ast.parse(path.read_text()), {"mapInPandas", "mapInArrow"}))
        assert not lines, f"operators/{mod}.py has its own reader at {lines}"
    assert not hasattr(audio, "predecode_batch")


@pytest.fixture(scope="module")
def null_id_clips(spark):
    """Six decodable speech-like clips; the first has a NULL clip_id."""
    from semantic_log_detector_spark.sources.synth import melody_clips

    return (melody_clips(spark, 6)
            .withColumn("clip_id", F.when(F.col("idx") == 0, F.lit(None))
                        .otherwise(F.col("clip_id")))
            .withColumn("transcript", F.lit("a b c")))


def test_null_clip_id_stays_null(spark, null_id_clips):
    from semantic_log_detector_spark.operators.audio_curate import audio_profile
    from semantic_log_detector_spark.operators.audio_dedup import audio_fingerprint
    from semantic_log_detector_spark.operators.audio_search import audio_landmarks
    from semantic_log_detector_spark.operators.augment import augment_clips
    from semantic_log_detector_spark.operators.features import (
        extract_features,
        pitch_features,
    )
    from semantic_log_detector_spark.operators.segment import (
        cut_segments,
        speech_segments,
    )

    passes = {
        "extract_features": (extract_features, ["clip_id"]),
        "pitch_features": (pitch_features, ["clip_id"]),
        "audio_profile": (audio_profile, ["clip_id"]),
        "audio_fingerprint": (audio_fingerprint, ["id"]),
        "audio_landmarks": (audio_landmarks, ["id"]),
        "speech_segments": (speech_segments, ["clip_id"]),
        "augment_clips": (augment_clips, ["clip_id", "src_clip_id"]),
        "cut_segments": (cut_segments, ["clip_id", "src_clip_id"]),
    }
    for name, (fn, cols) in passes.items():
        rows = fn(null_id_clips).select(*cols).collect()
        ids = [r[c] for r in rows for c in cols]
        assert None in ids, name
        assert not any(i is not None and i.startswith("None") for i in ids), name
