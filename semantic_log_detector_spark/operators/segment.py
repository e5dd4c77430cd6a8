"""Energy-based voice-activity detection and speech segmentation.

A training-data pipeline over raw audio needs to know WHERE the speech is:
clips are trimmed to speech, silence-heavy clips are dropped, and
duration-based cost models (token budgets, packing) should count speech
seconds, not container seconds. The reference has no audio axis at all
(its payloads are log lines); this operator family extends the engine's
payload rung with the standard energy VAD used as the first pass in
production speech pipelines (WebRTC VAD's energy tier, Kaldi's
compute-vad): frame RMS → threshold → hangover merge.

Everything is one Arrow kernel over the shared payload reader
(`sources/payload_scan.py::map_payloads`), the same scale shape as the
drift check and the acoustic fingerprint: payload bytes never leave the scan
stage; only (clip_id, start_s, end_s, rms_db) segment rows — a few dozen
bytes per utterance — shuffle. At 10^12 clips the segments table is
~100× smaller than the input and partitions by clip naturally.

Determinism: the kernel is pure numpy arithmetic over the decoded PCM —
no RNG, no wall clock — so the planted-fixture tests can assert exact
boundaries (±1 hop of the planted burst edges).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Frame geometry. 20 ms windows with 10 ms hop is the standard VAD grid
# (WebRTC uses 10/20/30 ms); the threshold is absolute dBFS because the
# synth corpus (and any normalized-ingest corpus) has a known floor —
# adaptive noise-floor tracking is a caller-side concern (pass a
# per-corpus threshold from a stats profile).
FRAME_MS = 20.0
HOP_MS = 10.0
DEFAULT_THRESHOLD_DBFS = -40.0


def _frame_rms_db(pcm: np.ndarray, sr: int,
                  frame_ms: float, hop_ms: float) -> np.ndarray:
    """Per-frame RMS in dBFS (0 dB = full scale ±1.0). Empty → (0,)."""
    frame = max(int(sr * frame_ms / 1000.0), 1)
    hop = max(int(sr * hop_ms / 1000.0), 1)
    if len(pcm) < frame:
        pcm = np.pad(pcm, (0, frame - len(pcm)))
    n_frames = 1 + (len(pcm) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    w = pcm[idx]
    rms = np.sqrt(np.mean(w * w, axis=1))
    return 20.0 * np.log10(np.maximum(rms, 1e-10))


def _segments_from_mask(mask: np.ndarray, hop_s: float, frame_s: float,
                        min_speech_s: float, min_gap_s: float):
    """Merge a binary frame mask into [start_s, end_s) segments.

    Gaps shorter than ``min_gap_s`` are bridged (hangover), then segments
    shorter than ``min_speech_s`` are dropped. Returns list of
    (start_s, end_s) with end = last active frame's window end."""
    if not mask.any():
        return []
    d = np.diff(np.concatenate([[0], mask.astype(np.int8), [0]]))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)  # exclusive frame index
    # bridge short gaps
    merged = [[starts[0], ends[0]]]
    for s, e in zip(starts[1:], ends[1:]):
        if (s - merged[-1][1]) * hop_s < min_gap_s:
            merged[-1][1] = e
        else:
            merged.append([s, e])
    out = []
    for s, e in merged:
        t0 = s * hop_s
        t1 = (e - 1) * hop_s + frame_s
        if t1 - t0 >= min_speech_s:
            out.append((t0, t1))
    return out


def speech_ms_fast(
    pcm: np.ndarray,
    sr: int,
    threshold_dbfs: float = DEFAULT_THRESHOLD_DBFS,
    frame_ms: float = FRAME_MS,
    hop_ms: float = HOP_MS,
    min_speech_ms: float = 100.0,
    min_gap_ms: float = 150.0,
) -> float:
    """Total VAD speech milliseconds via an O(n) cumulative-sum frame RMS.

    Same framing / threshold / hangover-merge semantics as
    ``_frame_rms_db`` + ``_segments_from_mask`` (the segmentation kernel),
    but the per-frame energy comes from ONE cumsum of pcm² instead of the
    frames × frame window matrix — cheap enough to ride inside the suite's
    single decode pass (checks/drift.py R067_speech_rate), where the FFT
    feature extraction already dominates. Segment end times are clamped to
    the true clip duration, matching ``audio_profile``'s speech_s.
    """
    frame = max(int(sr * frame_ms / 1000.0), 1)
    hop = max(int(sr * hop_ms / 1000.0), 1)
    x = np.asarray(pcm, dtype=np.float64)
    dur = len(x) / float(sr) if sr > 0 else 0.0
    if len(x) < frame:
        x = np.pad(x, (0, frame - len(x)))
    n_frames = 1 + (len(x) - frame) // hop
    cs = np.concatenate([[0.0], np.cumsum(x * x)])
    starts = hop * np.arange(n_frames)
    rms2 = (cs[starts + frame] - cs[starts]) / frame
    # _frame_rms_db floors amplitude at 1e-10 (−200 dB) → power floor 1e-20
    db = 10.0 * np.log10(np.maximum(rms2, 1e-20))
    segs = _segments_from_mask(db >= threshold_dbfs, hop_ms / 1000.0,
                               frame_ms / 1000.0, min_speech_ms / 1000.0,
                               min_gap_ms / 1000.0)
    return 1000.0 * sum(min(t1, dur) - t0 for t0, t1 in segs)


def speech_segments(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    threshold_dbfs: float = DEFAULT_THRESHOLD_DBFS,
    min_speech_ms: float = 100.0,
    min_gap_ms: float = 150.0,
    frame_ms: float = FRAME_MS,
    hop_ms: float = HOP_MS,
) -> DataFrame:
    """(clip_id, seg_idx, start_s, end_s, dur_s, rms_db, fake) — one row
    per detected speech segment. Clips that fail to decode, or contain no
    frame above ``threshold_dbfs``, emit NO rows (join back against the
    corpus to find them; `speech_ratio` reports them as ratio 0.0).
    ``fake`` is true when the codec routed through the deterministic-fake
    decoder — such segments describe the fake waveform, not real audio,
    and downstream consumers must exclude them (same honesty contract as
    `audio_dedup.audio_fingerprint`)."""
    from ..sources.payload_scan import kernel_output, map_payloads

    frame_s, hop_s = frame_ms / 1000.0, hop_ms / 1000.0
    min_speech_s, min_gap_s = min_speech_ms / 1000.0, min_gap_ms / 1000.0
    schema, emit = kernel_output(
        df, "clip_id string, seg_idx int, start_s double, end_s double,"
            " dur_s double, rms_db double, fake boolean")

    def kernel(rb):
        from ..functions.audio import decode_batch

        ids = rb.column(id_col).cast("string").to_pylist()
        out_id, out_k, out_t0, out_t1, out_db, out_fake = [], [], [], [], [], []
        for i, r in enumerate(decode_batch(rb.column(bytes_col),
                                           rb.column(codec_col).to_pylist())):
            if isinstance(r, Exception):
                continue
            pcm, sr, fake = r
            if pcm is None or len(pcm) == 0 or sr <= 0:
                continue
            db = _frame_rms_db(np.asarray(pcm, dtype=np.float64), int(sr),
                               frame_ms, hop_ms)
            segs = _segments_from_mask(db >= threshold_dbfs, hop_s, frame_s,
                                       min_speech_s, min_gap_s)
            dur_total = len(pcm) / float(sr)
            for k, (t0, t1) in enumerate(segs):
                t1 = min(t1, dur_total)
                f0 = int(t0 / hop_s)
                f1 = max(f0 + 1, min(int(np.ceil(t1 / hop_s)), len(db)))
                out_id.append(ids[i])
                out_k.append(k)
                out_t0.append(round(t0, 4))
                out_t1.append(round(t1, 4))
                out_db.append(round(float(np.mean(db[f0:f1])), 2))
                out_fake.append(bool(fake))
        yield emit({"clip_id": out_id, "seg_idx": out_k, "start_s": out_t0,
                    "end_s": out_t1,
                    "dur_s": [round(b - a, 4) for a, b in zip(out_t0, out_t1)],
                    "rms_db": out_db, "fake": out_fake}, rb)

    return map_payloads(df, [id_col, bytes_col, codec_col], kernel, schema)


def speech_ratio(
    df: DataFrame,
    segments: DataFrame,
    id_col: str = "clip_id",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """(clip_id, speech_s, total_s, speech_ratio, n_segments) per corpus
    clip — the curation-facing rollup. Clips with no detected speech (or
    undecodable payloads) appear with ratio 0.0, never silently dropped;
    fake-decoded segments are EXCLUDED from speech time (they describe a
    synthetic waveform). One small aggregate + one left join: segments are
    ~100× smaller than the corpus, so the join's shuffle is on the rollup,
    and Catalyst broadcasts it under the session threshold."""
    agg = (
        segments.filter(~F.col("fake"))
        .groupBy("clip_id")
        .agg(
            F.sum("dur_s").alias("speech_s"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )
    return (
        df.select(
            F.col(id_col).alias("clip_id"),
            (F.col(dur_col).cast("double") / 1000.0).alias("total_s"),
        )
        .join(agg, "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce("speech_s", F.lit(0.0)).alias("speech_s"),
            "total_s",
            F.when(
                F.col("total_s") > 0,
                F.round(F.coalesce("speech_s", F.lit(0.0)) / F.col("total_s"), 4),
            ).otherwise(F.lit(0.0)).alias("speech_ratio"),
            F.coalesce("n_segments", F.lit(0)).cast("int").alias("n_segments"),
        )
    )


def cut_segments(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    threshold_dbfs: float = DEFAULT_THRESHOLD_DBFS,
    min_speech_ms: float = 100.0,
    min_gap_ms: float = 150.0,
    pad_ms: float = 100.0,
    max_segment_s: float | None = None,
    skip_fake: bool = True,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Utterance extraction: cut every detected speech segment out of its
    clip as a NEW payload row — the long-recording → utterances step at
    the front of every ASR/audio-LM ingest (sox/ffmpeg silence-split, done
    as a corpus operator).

    Output: (clip_id = `<src>#sNN`, src_clip_id, seg_idx, start_s, end_s,
    ok, err, bytes, codec, sr_hz, dur_ms[, passthrough…]). Segments are
    re-encoded pcm_s16le WAV at the source rate, padded ``pad_ms`` into
    the surrounding context on both sides (clamped to the clip);
    ``max_segment_s`` chops over-long speech runs into deterministic
    fixed-size pieces (models cap input length; the split is at exact
    sample boundaries, seg_idx keeps counting). No silent drops: clips
    with no decodable speech emit ONE row with ok=false and the reason
    (undecodable / fake_decode / no_speech), so output accounting always
    covers every input clip. Same scale shape as the VAD pass: one decode
    per clip, payloads stay in the scan stage, no shuffle.
    """
    from ..sources.payload_scan import kernel_output, map_payloads

    passthrough = tuple(c for c in passthrough if c in df.columns)
    frame_s, hop_s = FRAME_MS / 1000.0, HOP_MS / 1000.0
    min_speech_s, min_gap_s = min_speech_ms / 1000.0, min_gap_ms / 1000.0
    pad_s = pad_ms / 1000.0
    schema, emit = kernel_output(
        df, "clip_id string, src_clip_id string, seg_idx int,"
            " start_s double, end_s double, ok boolean, err string,"
            " bytes binary, codec string, sr_hz int, dur_ms int",
        passthrough)

    def kernel(rb):
        from ..functions.audio import decode_batch, encode_wav

        ids = rb.column(id_col).cast("string").to_pylist()
        rows: dict[str, list] = {
            "clip_id": [], "src_clip_id": [], "seg_idx": [],
            "start_s": [], "end_s": [], "ok": [], "err": [],
            "bytes": [], "codec": [], "sr_hz": [], "dur_ms": [],
        }
        src_rows: list[int] = []

        def emit_row(i, seg_idx, t0, t1, ok, err, buf, sr):
            cid = ids[i]
            src_rows.append(i)
            rows["src_clip_id"].append(cid)
            rows["clip_id"].append(
                f"{cid}#s{seg_idx:02d}" if ok and cid is not None else cid)
            rows["seg_idx"].append(seg_idx if ok else None)
            rows["start_s"].append(round(t0, 4) if ok else None)
            rows["end_s"].append(round(t1, 4) if ok else None)
            rows["ok"].append(ok)
            rows["err"].append(err)
            rows["bytes"].append(buf)
            rows["codec"].append("pcm_s16le" if ok else None)
            rows["sr_hz"].append(sr if ok else None)
            rows["dur_ms"].append(
                int(round((t1 - t0) * 1000.0)) if ok else None)

        for i, r in enumerate(decode_batch(rb.column(bytes_col),
                                           rb.column(codec_col).to_pylist())):
            pcm, err = None, None
            if isinstance(r, Exception):
                err = f"{type(r).__name__}: {r}"[:200]
            else:
                pcm, sr, fake = r
                if fake and skip_fake:
                    pcm, err = None, "fake_decode"
                elif pcm is None or len(pcm) == 0 or sr <= 0:
                    pcm, err = None, "empty_decode"
            if pcm is None:
                emit_row(i, -1, 0.0, 0.0, False, err, None, 0)
                continue
            pcm = np.asarray(pcm, dtype=np.float64)
            db = _frame_rms_db(pcm, int(sr), FRAME_MS, HOP_MS)
            segs = _segments_from_mask(db >= threshold_dbfs, hop_s,
                                       frame_s, min_speech_s, min_gap_s)
            dur_total = len(pcm) / float(sr)
            pieces = []
            for (t0, t1) in segs:
                t0, t1 = max(t0 - pad_s, 0.0), min(t1 + pad_s, dur_total)
                if max_segment_s is not None and t1 - t0 > max_segment_s:
                    edges = np.arange(t0, t1, max_segment_s).tolist() + [t1]
                    pieces += [(a, b) for a, b in zip(edges, edges[1:])
                               if b - a > 1e-9]
                else:
                    pieces.append((t0, t1))
            if not pieces:
                emit_row(i, -1, 0.0, 0.0, False, "no_speech", None, 0)
                continue
            for k, (t0, t1) in enumerate(pieces):
                s0, s1 = int(round(t0 * sr)), int(round(t1 * sr))
                seg_pcm = pcm[s0:max(s1, s0 + 1)].astype(np.float32)
                emit_row(i, k, t0, t1, True, None,
                         encode_wav(seg_pcm, int(sr)), int(sr))
        yield emit(rows, rb, src_rows)

    return map_payloads(df, [id_col, bytes_col, codec_col, *passthrough], kernel, schema)
