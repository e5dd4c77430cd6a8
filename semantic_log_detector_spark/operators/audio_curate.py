"""Audio-corpus curation capstone: ONE payload pass → gates → dedup keep.

The audio analogue of `curate.curate_documents`: select the training-worthy
subset of a clip corpus. A speech corpus is curated on different axes than
text — decodability (and decode HONESTY: fake-decoded rows must never
swim through), speech content (energy VAD ratio, not token counts), and
acoustic duplication (same recording re-encoded) — but the composition is
the same ladder: per-item profile → quality gates → canonical keep over
the near-dup cluster graph.

Scale design: `audio_profile` computes EVERYTHING curation needs from the
payload — the 60-bit acoustic fingerprint (audio_dedup kernel), the VAD
speech ratio (segment kernel), decode status/honesty — in ONE decode pass,
so the corpus bytes are read exactly once (two independent operators would
decode twice; at 100 TB the decode pass IS the cost). The profile is a
thin per-clip frame (~50 B/row) that persists across its two uses (gates +
pair graph); payload bytes never leave the scan stage. Gates run BEFORE
the pair search, so ineligible clips (silence, fakes, undecodables) never
enter the pigeonhole join — both cheaper and semantically right (silence
colliding with silence is not duplication). Drop accounting is total:
every input clip lands in exactly one `audio_curation_summary` bucket.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.loudness import integrated_lufs
from .audio_dedup import _fingerprint_rows
from .segment import (
    DEFAULT_THRESHOLD_DBFS,
    FRAME_MS,
    HOP_MS,
    _frame_rms_db,
    _segments_from_mask,
)


def audio_profile(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    threshold_dbfs: float = DEFAULT_THRESHOLD_DBFS,
    min_speech_ms: float = 100.0,
    min_gap_ms: float = 150.0,
    passthrough: tuple[str, ...] = (),
    with_loudness: bool = True,
    with_pitch: bool = False,
) -> DataFrame:
    """Per-clip curation profile from ONE decode of the payload:
    (clip_id, decode_ok, fake, fp, total_s, speech_s, speech_ratio,
    n_segments, loudness_lufs, snr_db, median_f0_hz, f0_spread_hz,
    voiced_ratio[, passthrough…]). ``fp`` is the 60-bit
    acoustic fingerprint (null for silence/undecodable — see audio_dedup),
    speech fields come from the energy-VAD kernel (segment.py),
    ``loudness_lufs`` is the BS.1770-style gated integrated loudness
    (functions/loudness.py; null for silence/undecodable, or everywhere
    when ``with_loudness=False`` skips its FFT). The three pitch columns
    (functions/audio.py::clip_f0_stats — F0 autocorrelation per 40 ms
    frame) are null everywhere unless ``with_pitch=True`` opts into their
    extra FFT work; they feed the flat-pitch contamination gate (an
    energy VAD cannot tell a synthetic tone from speech; pitch can).
    Undecodable clips keep their row with decode_ok=false and nulls —
    accounting needs them. ``passthrough`` columns are carried unchanged
    (e.g. the event-time column for the streaming twin)."""
    from ..sources.payload_scan import kernel_output, map_payloads

    frame_s, hop_s = FRAME_MS / 1000.0, HOP_MS / 1000.0
    min_speech_s, min_gap_s = min_speech_ms / 1000.0, min_gap_ms / 1000.0
    schema, emit = kernel_output(
        df, "clip_id string, decode_ok boolean, fake boolean, fp long,"
            " total_s double, speech_s double, speech_ratio double,"
            " n_segments int, loudness_lufs double, snr_db double,"
            " median_f0_hz double, f0_spread_hz double, voiced_ratio double",
        passthrough)

    def kernel(rb):
        from ..functions.audio import decode_batch

        n = rb.num_rows
        pcms: list = [None] * n
        srs = [0] * n
        fakes = [False] * n
        ok = [False] * n
        for i, r in enumerate(decode_batch(rb.column(bytes_col),
                                           rb.column(codec_col).to_pylist())):
            if isinstance(r, Exception):
                continue
            pcm, sr, fake = r
            if pcm is not None and len(pcm) > 0 and sr > 0:
                pcms[i], srs[i], fakes[i], ok[i] = (
                    np.asarray(pcm, np.float64), int(sr), bool(fake), True,
                )
        fps = _fingerprint_rows(pcms, srs)
        total_s = [None] * n
        speech_s = [None] * n
        n_segs = [None] * n
        lufs = [None] * n
        snrs = [None] * n
        f0_med = [None] * n
        f0_spr = [None] * n
        f0_vr = [None] * n
        for i in range(n):
            if not ok[i]:
                continue
            if with_pitch:
                from ..functions.audio import clip_f0_stats

                m, sp, vr = clip_f0_stats(
                    pcms[i].astype(np.float32), srs[i])
                f0_med[i], f0_spr[i], f0_vr[i] = m, sp, vr
            db = _frame_rms_db(pcms[i], srs[i], FRAME_MS, HOP_MS)
            segs = _segments_from_mask(db >= threshold_dbfs, hop_s, frame_s,
                                       min_speech_s, min_gap_s)
            dur = len(pcms[i]) / float(srs[i])
            total_s[i] = round(dur, 4)
            speech_s[i] = round(sum(min(t1, dur) - t0 for t0, t1 in segs), 4)
            n_segs[i] = len(segs)
            if with_loudness:
                lv = integrated_lufs(pcms[i], srs[i])
                lufs[i] = None if lv is None else round(lv, 2)
            # estimated SNR: mean frame power inside the VAD segments
            # vs outside them (the noise floor) — the standard
            # low-SNR curation gate, from the SAME frame-RMS array
            # (zero extra DSP). None when the clip has no speech or
            # no noise frames to estimate from.
            if segs:
                centers = np.arange(len(db)) * hop_s + frame_s / 2.0
                in_speech = np.zeros(len(db), dtype=bool)
                for t0, t1 in segs:
                    in_speech |= (centers >= t0) & (centers < t1)
                if in_speech.any() and (~in_speech).any():
                    p = 10.0 ** (db / 10.0)  # frame power (rms^2)
                    ps, pn = p[in_speech].mean(), p[~in_speech].mean()
                    if pn > 0:
                        snrs[i] = round(10.0 * np.log10(ps / pn), 2)
        yield emit({
            "clip_id": rb.column(id_col).cast("string"),
            "decode_ok": ok, "fake": fakes, "fp": fps,
            "total_s": total_s, "speech_s": speech_s,
            "speech_ratio": [None if (t is None or t <= 0) else round(s / t, 4)
                             for s, t in zip(speech_s, total_s)],
            "n_segments": n_segs, "loudness_lufs": lufs, "snr_db": snrs,
            "median_f0_hz": f0_med, "f0_spread_hz": f0_spr, "voiced_ratio": f0_vr,
        }, rb)

    return map_payloads(df, [id_col, bytes_col, codec_col, *passthrough], kernel, schema)


def curate_audio_corpus(
    clips: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    min_speech_ratio: float = 0.3,
    min_dur_s: float = 0.0,
    max_dur_s: float | None = None,
    min_lufs: float | None = None,
    max_lufs: float | None = None,
    min_snr_db: float | None = None,
    drop_flat_pitch: bool = False,
    flat_pitch_max_spread: float = 5.0,
    flat_pitch_min_voiced: float = 0.8,
    max_hamming: int = 3,
    cc_max_iters: int = 25,
    drop_stats: dict | None = None,
    artifacts: dict | None = None,
) -> DataFrame:
    """Curated clip set: profile gates + acoustic-dup canonical keep.

    Keeps clips that (a) decode through a REAL codec (fake-decoded rows
    are never curated in), (b) have VAD speech_ratio ≥ ``min_speech_ratio``,
    duration within bounds, and — when ``min_lufs``/``max_lufs`` are given —
    integrated loudness within [min_lufs, max_lufs] (clips with no
    measurable loudness fail an enabled loudness gate: un-measurable is
    not in-range), estimated SNR ≥ ``min_snr_db`` when given (same
    un-measurable-fails contract), are NOT flat-pitch contamination when
    ``drop_flat_pitch=True`` (voiced with a near-constant F0 track —
    synthetic tones, line hum, sustained notes: voiced_ratio ≥
    ``flat_pitch_min_voiced`` AND f0_spread_hz ≤ ``flat_pitch_max_spread``
    drops the clip; unvoiced or un-measurable pitch PASSES this gate — it
    is a contamination filter, not a quality floor: noise and silence are
    the speech-ratio gate's job, and an energy VAD alone cannot tell a
    tone from speech), and (c) are the canonical representative
    (min id) of their acoustic-duplicate cluster, or duplicate nothing.
    Returns one row per KEPT clip (the `audio_profile` row). Gates run
    BEFORE the pair search: ineligible clips never enter the pigeonhole
    join. ``artifacts`` receives ``['profile']`` (per-clip, all rows) and
    ``['clusters']`` (edge-scale) for reports; the persisted profile is
    recorded in ``drop_stats['persisted']`` per the dedup convention —
    release with `dedup.unpersist_all`."""
    from .dedup import dup_clusters, hamming60_pairs

    with_loudness = min_lufs is not None or max_lufs is not None
    prof = audio_profile(clips, id_col, bytes_col, codec_col,
                         with_loudness=with_loudness,
                         with_pitch=drop_flat_pitch).persist()
    if drop_stats is not None:
        drop_stats.setdefault("persisted", []).append(prof)
    if artifacts is not None:
        artifacts["profile"] = prof

    gate = (
        F.col("decode_ok") & ~F.col("fake")
        & (F.col("speech_ratio") >= F.lit(min_speech_ratio))
        & (F.col("total_s") >= F.lit(min_dur_s))
        & (F.lit(max_dur_s).isNull() | (F.col("total_s") <= F.lit(max_dur_s)))
    )
    if min_lufs is not None:
        gate = gate & (F.col("loudness_lufs") >= F.lit(min_lufs))
    if max_lufs is not None:
        gate = gate & (F.col("loudness_lufs") <= F.lit(max_lufs))
    if min_snr_db is not None:
        gate = gate & (F.col("snr_db") >= F.lit(min_snr_db))
    if drop_flat_pitch:
        gate = gate & ~_flat_pitch(flat_pitch_min_voiced, flat_pitch_max_spread)
    eligible = prof.filter(gate)
    base = eligible.filter(F.col("fp").isNotNull()).select(
        F.col("clip_id").alias("id"), F.col("fp").alias("sh")
    )
    pairs = hamming60_pairs(base, max_hamming, drop_stats=drop_stats,
                            op="curate_audio_corpus")
    clusters = dup_clusters(pairs, max_iters=cc_max_iters, drop_stats=drop_stats)
    if artifacts is not None:
        artifacts["clusters"] = clusters
    non_canonical = clusters.filter(~F.col("is_canonical")).select(
        F.col("id").alias("clip_id")
    )
    return eligible.join(non_canonical, "clip_id", "left_anti")


def _flat_pitch(min_voiced: float, max_spread: float):
    """Flat-pitch contamination predicate over profile columns: voiced
    with a near-constant F0 track. NULL-safe false: unvoiced or
    un-measurable pitch is NOT flat (those clips are the speech-ratio
    gate's job, not this one's)."""
    return F.coalesce(
        (F.col("voiced_ratio") >= F.lit(min_voiced))
        & (F.col("f0_spread_hz") <= F.lit(max_spread)),
        F.lit(False),
    )


def audio_curation_summary(
    profile: DataFrame,
    kept: DataFrame,
    min_speech_ratio: float = 0.3,
    min_dur_s: float = 0.0,
    max_dur_s: float | None = None,
    min_lufs: float | None = None,
    max_lufs: float | None = None,
    min_snr_db: float | None = None,
    drop_flat_pitch: bool = False,
    flat_pitch_max_spread: float = 5.0,
    flat_pitch_min_voiced: float = 0.8,
) -> DataFrame:
    """One-row total accounting: every input clip lands in exactly one
    bucket (undecodable / fake / low_speech / out_of_duration /
    out_of_loudness / low_snr / flat_pitch / dup_removed / kept), so
    n_total is provably the sum — the "no silent drops" contract at
    corpus level.

    The dup keep is an anti-join on clip_id, so a gated-in clip is kept
    exactly when its id is among the kept ids: membership is tested
    against the distinct kept ids, NULL-safe. A NULL id never pairs, so
    a NULL-id clip that passes every gate is kept, and a repeated id
    counts each of its rows once."""
    k = (kept.select(F.col("clip_id").alias("__kid")).distinct()
         .withColumn("__kept", F.lit(True)))
    p = profile.join(k, profile["clip_id"].eqNullSafe(k["__kid"]), "left")
    loudness_ok = F.lit(True)
    if min_lufs is not None:
        loudness_ok = loudness_ok & (F.col("loudness_lufs") >= F.lit(min_lufs))
    if max_lufs is not None:
        loudness_ok = loudness_ok & (F.col("loudness_lufs") <= F.lit(max_lufs))
    reason = (
        F.when(~F.col("decode_ok"), "undecodable")
        .when(F.col("fake"), "fake_decode")
        .when(F.col("speech_ratio") < min_speech_ratio, "low_speech")
        .when(F.col("total_s") < min_dur_s, "out_of_duration")
        .when(
            F.lit(max_dur_s).isNotNull() & (F.col("total_s") > max_dur_s),
            "out_of_duration",
        )
        # NULL-safe: an enabled gate drops un-measurable loudness too
        .when(~F.coalesce(loudness_ok, F.lit(False)), "out_of_loudness")
        .when(
            F.lit(min_snr_db).isNotNull()
            & ~F.coalesce(F.col("snr_db") >= F.lit(min_snr_db), F.lit(False)),
            "low_snr",
        )
        .when(
            F.lit(drop_flat_pitch)
            & _flat_pitch(flat_pitch_min_voiced, flat_pitch_max_spread),
            "flat_pitch",
        )
        .when(F.col("__kept").isNull(), "dup_removed")
        .otherwise("kept")
    )
    return (
        p.select(reason.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_clips"))
    )
