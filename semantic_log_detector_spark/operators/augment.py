"""Deterministic audio augmentation — corpus expansion for training pipelines.

ASR/audio-LM training corpora are routinely expanded with speed
perturbation (the classic 0.9×/1.1× three-way of Kaldi-style recipes),
gain perturbation, additive noise at a target SNR, and loudness
normalization. This operator is the scale version of that recipe: ONE
Arrow pass over the clip table (the shared payload reader,
`sources/payload_scan.py::map_payloads`) decodes each payload once, applies
every requested augmentation, and emits one new row per (clip, spec) with
the augmented payload re-encoded as pcm_s16le WAV — payload bytes never
leave the scan stage, nothing shuffles, and the k× output streams straight
to the sink. (Graft of the reference's feature-noise robustness seam,
src/ids/robustness.py:20-41, onto the raw-audio axis — there the noise
perturbs feature vectors; here it manufactures training variants.)

Everything is a pure function of (clip_id, spec, seed): the noise RNG is
Philox keyed on xxhash64(clip_id | spec name) ^ seed, so the augmented
corpus is bit-identical at any parallelism, partitioning, or retry — the
same determinism contract as the synth corpus and the robustness harness.

No silent drops: clips that fail to decode (or fake-decode, when
``skip_fake``) keep one row per spec with ``ok=false``, null bytes and the
error string, so augmented-corpus accounting always sums to
n_input × n_specs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from ..functions.sparkhash import xxhash64

# ------------------------------------------------------------ numpy kernels


def speed_perturb(pcm: np.ndarray, factor: float) -> np.ndarray:
    """Resample-based speed change: ``factor`` > 1 is faster (shorter).
    Linear interpolation over the scaled time grid — same interpolator as
    functions/audio.resample_linear, reparameterized by rate ratio."""
    if factor <= 0:
        raise ValueError(f"speed factor must be > 0, got {factor}")
    n = len(pcm)
    if n == 0:
        return pcm.astype(np.float32)
    m = max(int(round(n / factor)), 1)
    src = np.arange(m, dtype=np.float64) * factor
    return np.interp(src, np.arange(n, dtype=np.float64), pcm).astype(np.float32)


def gain(pcm: np.ndarray, db: float) -> np.ndarray:
    """Scalar gain in dB. The WAV encoder's int16 clamp bounds the result;
    pair with rms_normalize first if headroom matters."""
    return (pcm * (10.0 ** (db / 20.0))).astype(np.float32)


def add_noise_snr(pcm: np.ndarray, snr_db: float, key: int) -> np.ndarray:
    """Additive white Gaussian noise at ``snr_db`` below the clip's own RMS,
    deterministically keyed (Philox) — identical output for identical
    (pcm, snr_db, key) anywhere in the cluster."""
    rms = float(np.sqrt(np.mean(np.asarray(pcm, np.float64) ** 2)))
    if rms <= 0 or len(pcm) == 0:
        return np.asarray(pcm, np.float32)
    noise_rms = rms / (10.0 ** (snr_db / 20.0))
    rng = np.random.Generator(np.random.Philox(key=key & 0x7FFFFFFFFFFFFFFF))
    return (pcm + noise_rms * rng.standard_normal(len(pcm))).astype(np.float32)


def rms_normalize(pcm: np.ndarray, target_dbfs: float = -20.0) -> np.ndarray:
    """Scale the clip so its RMS sits at ``target_dbfs`` (dB re full scale).
    Silent input is returned unchanged — there is nothing to normalize and
    inventing gain for digital silence only amplifies the noise floor."""
    rms = float(np.sqrt(np.mean(np.asarray(pcm, np.float64) ** 2)))
    if rms <= 0 or len(pcm) == 0:
        return np.asarray(pcm, np.float32)
    return (pcm * (10.0 ** (target_dbfs / 20.0) / rms)).astype(np.float32)


@dataclass(frozen=True)
class AugSpec:
    """One augmentation: ``kind`` ∈ {speed, gain, noise, rms_norm,
    lufs_norm, resample}; ``name`` suffixes the output clip_id
    (``<clip_id>#<name>``). ``apply`` returns the new pcm, or
    (pcm, new_sr) for kinds that change the sample rate."""

    name: str
    kind: str
    params: dict = field(default_factory=dict)

    def apply(self, pcm: np.ndarray, sr: int, key: int):
        if self.kind == "speed":
            return speed_perturb(pcm, float(self.params["factor"]))
        if self.kind == "resample":
            # rate canonicalization (the mixed-rate corpus → one-rate
            # corpus ingest step); same interpolator the fingerprint and
            # snippet kernels use, so downstream ops see identical audio
            from ..functions.audio import resample_linear

            target = int(self.params["target_hz"])
            if target <= 0:
                raise ValueError(f"target_hz must be > 0, got {target}")
            return resample_linear(
                np.asarray(pcm, np.float32), int(sr), target), target
        if self.kind == "gain":
            return gain(pcm, float(self.params["db"]))
        if self.kind == "noise":
            return add_noise_snr(pcm, float(self.params["snr_db"]), key)
        if self.kind == "rms_norm":
            return rms_normalize(pcm, float(self.params.get("target_dbfs", -20.0)))
        if self.kind == "lufs_norm":
            # BS.1770 integrated-loudness normalization (the broadcast/ASR
            # standard; rms_norm is the cheap cousin). Silence keeps 0 dB
            # gain — same policy as rms_normalize.
            from ..functions.loudness import lufs_gain_db

            g = lufs_gain_db(pcm, sr, float(self.params.get("target_lufs", -23.0)))
            return gain(pcm, g)
        raise ValueError(f"unknown augmentation kind {self.kind!r}")


#: the classic ASR three-way speed perturbation + a light noise variant
DEFAULT_SPECS: tuple[AugSpec, ...] = (
    AugSpec("sp0.9", "speed", {"factor": 0.9}),
    AugSpec("sp1.1", "speed", {"factor": 1.1}),
    AugSpec("n20db", "noise", {"snr_db": 20.0}),
)


# -------------------------------------------------------------- the operator


def augment_clips(
    df: DataFrame,
    specs: tuple[AugSpec, ...] = DEFAULT_SPECS,
    seed: int = 0,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    skip_fake: bool = True,
    passthrough: tuple[str, ...] = ("transcript",),
) -> DataFrame:
    """Expand a clip corpus: one output row per (input clip × spec).

    Output schema: (clip_id, src_clip_id, aug, ok, err, bytes, codec,
    sr_hz, dur_ms[, passthrough…]). Augmented payloads are canonical
    pcm_s16le WAV at the decoded rate (re-encoding into the source codec
    would stack lossy generations); transcripts ride along unchanged —
    speed/gain/noise do not alter words.

    Scale: one decode pass per input clip regardless of len(specs); no
    shuffle; output is len(specs)× the input row count and roughly
    len(specs)× the PCM bytes, so write it straight to a parquet sink —
    never collect. ``skip_fake`` (default) refuses to manufacture training
    variants of fake-decoded payloads (they carry synthetic spectra, not
    the recording) — those rows come back ok=false with err='fake_decode'.
    """
    from ..sources.payload_scan import kernel_output, map_payloads

    passthrough = tuple(c for c in passthrough if c in df.columns)
    schema, emit = kernel_output(
        df, "clip_id string, src_clip_id string, aug string, ok boolean,"
            " err string, bytes binary, codec string, sr_hz int, dur_ms int",
        passthrough)

    def kernel(rb):
        from ..functions.audio import decode_batch, encode_wav

        ids = rb.column(id_col).cast("string").to_pylist()
        out: dict[str, list] = {
            "clip_id": [], "src_clip_id": [], "aug": [], "ok": [],
            "err": [], "bytes": [], "codec": [], "sr_hz": [], "dur_ms": [],
        }
        src_rows: list[int] = []
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

            cid = ids[i]
            for spec in specs:
                src_rows.append(i)
                out["src_clip_id"].append(cid)
                out["clip_id"].append(None if cid is None else f"{cid}#{spec.name}")
                out["aug"].append(spec.name)
                if pcm is None:
                    out["ok"].append(False)
                    out["err"].append(err)
                    out["bytes"].append(None)
                    out["codec"].append(None)
                    out["sr_hz"].append(None)
                    out["dur_ms"].append(None)
                    continue
                key = xxhash64(f"{cid}|{spec.name}".encode("utf-8")) ^ (
                    seed & 0xFFFFFFFF)
                res = spec.apply(np.asarray(pcm, np.float32), sr, key)
                aug, out_sr = res if isinstance(res, tuple) else (res, sr)
                out["ok"].append(True)
                out["err"].append(None)
                out["bytes"].append(encode_wav(aug, out_sr))
                out["codec"].append("pcm_s16le")
                out["sr_hz"].append(out_sr)
                out["dur_ms"].append(int(round(len(aug) * 1000.0 / out_sr)))
        yield emit(out, rb, src_rows)

    return map_payloads(df, [id_col, bytes_col, codec_col, *passthrough], kernel, schema)
