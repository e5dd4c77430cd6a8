"""Feature export + CMVN — the feature-store step of an audio pipeline.

Training stacks consume per-frame acoustic features (MFCC / log-mel), not
waveforms; the corpus-level mean/variance of each coefficient (CMVN —
cepstral mean and variance normalization) is the standard input
normalization every ASR recipe computes first. This operator materializes
both from ONE decode pass: per-clip frame matrices as nested arrays, plus
per-clip partial sums (Σx, Σx², n) per coefficient so the corpus CMVN
statistics aggregate WITHOUT ever re-touching the big frame arrays — the
classic partial-aggregate trick, map-side combined by construction.
(Extends the reference's encoder seam, src/ids/embeddings.py:31-58, from
per-log embedding vectors to the per-frame feature tensors an audio
trainer actually reads.)

Scale: payload bytes and frame tensors stay in the scan stage; the CMVN
agg moves clips × n_coeffs tiny rows (posexplode of the partials, then a
groupBy over at most n_coeffs keys). `apply_cmvn` is pure JVM column work
(transform + zip_with over broadcast literal stats) — no second Python
pass over the frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_features(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    kind: str = "mfcc",
    n_coeffs: int = 13,
    n_mels: int = 20,
    skip_fake: bool = True,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Per-clip frame features from one decode pass.

    Output: (clip_id, ok, err, sr_hz, n_frames, feats, f_sum, f_sumsq
    [, passthrough…]) where ``feats`` is array<array<float>> — one inner
    array per 25 ms/10 ms frame — and f_sum/f_sumsq are the per-coefficient
    partials that make `cmvn_stats` cheap. ``kind`` ∈ {mfcc, logmel}
    (logmel emits ``n_mels`` coefficients; n_coeffs applies to mfcc).
    Undecodable (and, with ``skip_fake``, fake-decoded) clips keep their
    row with ok=false and nulls — accounting never loses a clip.
    """
    if kind not in ("mfcc", "logmel"):
        raise ValueError(f"kind must be mfcc|logmel, got {kind!r}")
    from ..sources.payload_scan import kernel_output, map_payloads

    passthrough = tuple(c for c in passthrough if c in df.columns)
    schema, emit = kernel_output(
        df, "clip_id string, ok boolean, err string, sr_hz int, n_frames int,"
            " feats array<array<float>>, f_sum array<double>, f_sumsq array<double>",
        passthrough)

    def kernel(rb):
        from ..functions.audio import decode_batch, log_mel_frames, mfcc

        n = rb.num_rows
        out = {"clip_id": rb.column(id_col).cast("string"), "ok": [False] * n,
               "err": [None] * n, "sr_hz": [None] * n, "n_frames": [None] * n,
               "feats": [None] * n, "f_sum": [None] * n, "f_sumsq": [None] * n}
        for i, r in enumerate(decode_batch(rb.column(bytes_col),
                                           rb.column(codec_col).to_pylist())):
            try:
                if isinstance(r, Exception):
                    raise r
                pcm, sr, fake = r
                if fake and skip_fake:
                    out["err"][i] = "fake_decode"
                    continue
                if pcm is None or len(pcm) == 0 or sr <= 0:
                    out["err"][i] = "empty_decode"
                    continue
                # no float64 pre-cast (round 6): the framing kernel
                # casts to float32 internally, and f32→f64→f32 is an
                # exact round-trip, so results are bit-identical
                if kind == "mfcc":
                    m = mfcc(pcm, sr, n_mfcc=n_coeffs, n_mels=n_mels)
                else:
                    m = log_mel_frames(pcm, sr, n_mels=n_mels)
                m = np.atleast_2d(np.asarray(m, np.float64))
                out["ok"][i] = True
                out["sr_hz"][i] = int(sr)
                out["n_frames"][i] = int(m.shape[0])
                # hand Arrow the ndarrays directly (round 6): the old
                # per-frame .tolist() materialized ~n_frames×n_coeffs
                # Python floats per clip — pure conversion overhead;
                # pyarrow consumes nested ndarrays natively and the
                # wire values are identical (same float32 cast)
                out["feats"][i] = list(m.astype(np.float32))
                out["f_sum"][i] = m.sum(axis=0)
                out["f_sumsq"][i] = (m * m).sum(axis=0)
            except Exception as e:
                out["err"][i] = f"{type(e).__name__}: {e}"[:200]
        yield emit(out, rb)

    return map_payloads(df, [id_col, bytes_col, codec_col, *passthrough], kernel, schema)


def cmvn_stats(feats: DataFrame) -> DataFrame:
    """Corpus CMVN statistics from the per-clip partials: one row per
    coefficient (coeff, mean, std, n_frames). Moves clips × n_coeffs tiny
    rows, never the frame arrays; Catalyst map-side-combines the sums."""
    ok = feats.filter(F.col("ok"))
    exploded = ok.select(
        F.col("n_frames").cast("long").alias("nf"),
        F.posexplode("f_sum").alias("coeff", "s"),
        F.col("f_sumsq"),
    ).select(
        "coeff", "s", "nf",
        F.element_at("f_sumsq", F.col("coeff") + 1).alias("ss"),
    )
    return exploded.groupBy("coeff").agg(
        (F.sum("s") / F.sum("nf")).alias("mean"),
        F.sqrt(
            F.greatest(
                F.sum("ss") / F.sum("nf")
                - (F.sum("s") / F.sum("nf")) ** 2,
                F.lit(0.0),
            )
        ).alias("std"),
        F.sum("nf").alias("n_frames"),
    ).orderBy("coeff")


def apply_cmvn(
    feats: DataFrame,
    stats: DataFrame,
    eps: float = 1e-8,
    out_col: str = "feats_cmvn",
) -> DataFrame:
    """Normalize every frame to (x − mean)/max(std, eps) using the corpus
    stats — pure JVM column work (transform + zip_with over literal
    arrays); the frame tensors never visit Python again. ``stats`` is a
    `cmvn_stats` result (collected driver-side: n_coeffs rows, trivially
    small by construction)."""
    rows = sorted(stats.collect(), key=lambda r: r["coeff"])
    if not rows:
        raise ValueError("empty CMVN stats — no decodable clips?")
    mean = F.array(*[F.lit(float(r["mean"])) for r in rows])
    std = F.array(*[F.lit(max(float(r["std"]), eps)) for r in rows])
    return feats.withColumn(
        out_col,
        F.when(
            F.col("ok"),
            F.transform(
                "feats",
                lambda fr: F.zip_with(
                    fr,
                    F.zip_with(mean, std, lambda m, s: F.struct(
                        m.alias("m"), s.alias("s"))),
                    lambda x, ms: ((x - ms["m"]) / ms["s"]).cast("float"),
                ),
            ),
        ),
    )


def spec_augment(
    feats: DataFrame,
    n_time_masks: int = 2,
    max_time_frac: float = 0.1,
    n_freq_masks: int = 2,
    max_freq_width: int = 4,
    seed: int = 42,
    id_col: str = "clip_id",
    feats_col: str = "feats",
    out_col: str = "feats_sa",
) -> DataFrame:
    """SpecAugment-style time/frequency masking over the frame tensors —
    the standard ASR training-time regularizer (Park et al. 2019),
    deterministic so the augmented corpus is reproducible at any
    parallelism: mask positions come from Philox keyed on
    xxhash64(clip_id|mask_index) ^ seed, the same device as
    operators/augment.py. (Grafts the reference's seeded feature
    perturbation seam, src/ids/robustness.py:44-65, onto the feature
    tensors as a training-time transform rather than an eval probe.) Masked cells are set to 0.0 — the coefficient
    MEAN after CMVN, so apply spec_augment AFTER apply_cmvn (or accept
    zero-masking on raw features). Each time mask zeroes a contiguous
    frame range of width ≤ max_time_frac × n_frames; each frequency mask
    zeroes a coefficient band of width ≤ max_freq_width across all
    frames. One Arrow-batch pandas UDF over (id, tensor) — no shuffle, no
    extra decode; rows whose tensor is NULL (ok=false) pass through NULL.
    """
    from pyspark.sql.functions import pandas_udf

    from ..functions.sparkhash import xxhash64 as _xx

    n_t, n_f = int(n_time_masks), int(n_freq_masks)
    tfrac, fwidth = float(max_time_frac), int(max_freq_width)
    sd = int(seed)

    @pandas_udf("array<array<float>>")
    def _mask(ids: pd.Series, tensors: pd.Series) -> pd.Series:
        out = []
        for cid, t in zip(ids, tensors):
            if t is None or len(t) == 0:
                out.append(t)
                continue
            x = np.asarray([np.asarray(fr, dtype=np.float32) for fr in t])
            nf, nc = x.shape
            key = _xx(f"{cid}|sa".encode("utf-8")) ^ (sd & 0xFFFFFFFF)
            rng = np.random.Generator(
                np.random.Philox(key=key & 0x7FFFFFFFFFFFFFFF))
            max_t = max(int(tfrac * nf), 1)
            for _ in range(n_t):
                w = int(rng.integers(1, max_t + 1))
                t0 = int(rng.integers(0, max(nf - w, 0) + 1))
                x[t0:t0 + w, :] = 0.0
            for _ in range(n_f):
                w = int(rng.integers(1, min(fwidth, nc) + 1))
                f0 = int(rng.integers(0, max(nc - w, 0) + 1))
                x[:, f0:f0 + w] = 0.0
            out.append([fr.tolist() for fr in x])
        return pd.Series(out)

    return feats.withColumn(out_col, _mask(F.col(id_col), F.col(feats_col)))


def audio_embedding(
    feats: DataFrame,
    eps: float = 1e-8,
    out_col: str = "embedding",
) -> DataFrame:
    """(clip_id, embedding array<double>) — a fixed-size acoustic vector
    per clip: per-coefficient mean ++ std over the frames, derived
    PURELY from the partials `extract_features` already carries
    (f_sum / f_sumsq / n_frames), so the frame tensors are never touched
    and the math is whole-stage-codegen JVM column work. This is the
    bridge from the feature pass to the similarity-search rungs: feed the
    result to brute_force_topk / lsh / ivf / pq for "find clips that
    SOUND like this one" at corpus scale — content-level retrieval where
    the acoustic-dedup fingerprint answers only near-exact duplication.
    Cross-codec stable AT A GIVEN SAMPLE RATE: the same recording through
    any real codec lands within quantization noise of the same vector.
    The mel filterbank is rate-dependent, so clips at different rates
    embed in different spaces — resample on ingest, or use the
    rate-invariant acoustic-dedup fingerprint for cross-rate matching.
    Rows with ok=false are dropped (no feature evidence to embed)."""
    n = F.col("n_frames").cast("double")
    mean = F.transform("f_sum", lambda s: s / n)
    var = F.zip_with(
        "f_sumsq", mean,
        lambda ss, m: F.greatest(ss / n - m * m, F.lit(0.0)))
    return feats.filter(F.col("ok") & (F.col("n_frames") > 0)).select(
        "clip_id",
        F.concat(mean, F.transform(var, lambda v: F.sqrt(v + eps)))
        .cast("array<double>").alias(out_col),
    )


def pitch_features(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    fmin: float = 50.0,
    fmax: float = 500.0,
) -> DataFrame:
    """Per-clip pitch profile: (clip_id, ok, median_f0_hz, f0_spread_hz,
    voiced_ratio) from one decode pass (one Arrow kernel over
    `sources/payload_scan.py::map_payloads`; payloads stay in the scan
    stage, five thin columns come out).

    What it buys a speech-corpus pipeline: human speech sits in a known
    F0 band with a WANDERING track (wide IQR spread); synthetic tones,
    line hum, and sustained notes are flat lines (spread ≈ 0); noise and
    silence are unvoiced (voiced_ratio ≈ 0, NULL f0). Those three axes
    separate speech from the non-speech contamination a 100 TB scrape
    carries. Autocorrelation per 40 ms frame via the chunked FFT kernel
    (functions/audio.py::frame_f0)."""
    from ..sources.payload_scan import kernel_output, map_payloads

    schema, emit = kernel_output(
        df, "clip_id string, ok boolean, median_f0_hz double, f0_spread_hz double,"
            " voiced_ratio double")

    def kernel(rb):
        from ..functions.audio import clip_f0_stats, decode_batch

        n = rb.num_rows
        ok, med, spread, vr = [False] * n, [None] * n, [None] * n, [None] * n
        for i, r in enumerate(decode_batch(rb.column(bytes_col),
                                           rb.column(codec_col).to_pylist())):
            try:
                if isinstance(r, Exception):
                    raise r
                pcm, sr, _fake = r
                if pcm is None or len(pcm) == 0 or sr <= 0:
                    continue
                m, s, v = clip_f0_stats(pcm, sr, fmin=fmin, fmax=fmax)
                ok[i], med[i], spread[i], vr[i] = True, m, s, v
            except Exception:
                pass
        yield emit({"clip_id": rb.column(id_col).cast("string"), "ok": ok,
                    "median_f0_hz": med, "f0_spread_hz": spread,
                    "voiced_ratio": vr}, rb)

    return map_payloads(df, [id_col, bytes_col, codec_col], kernel, schema)
