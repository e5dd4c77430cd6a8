"""Distribution-drift check over audio features (SURVEY.md A15/W6/X1/X5).

Replaces the reference's semantic-embedding anomaly scorer — Sentence-BERT
kNN distance vs a percentile threshold (`src/detection/anomaly_scorer.py:
38-84`) and the rolling drift monitor (`src/monitoring/drift.py:18-47`) —
with closed-form statistics per the north_star: PSI and two-sample KS over
MFCC/log-mel feature histograms.

Pipeline (ONE Arrow-UDF pass over the payload bytes; tiny shuffles after):

1. ``decode_stats``: one Arrow pass over (clip_id, part_id, bytes, codec,
   sr_hz, dur_ms) through the shared payload reader
   (``sources/payload_scan.py::map_payloads``: row-group tasks on a bare
   parquet scan, a JVM-fed mapInArrow otherwise) that decodes,
   feature-extracts, bins features into per-batch fixed-bin histogram
   partials (hand-rolled map-side combine), and emits R060 decode / R061
   duration violations inline. Bytes are read exactly once; nothing
   per-clip leaves the stage except sparse violation rows — the shuffle and
   cache carry ≤ parts×features×bins rows per task.
2. ``groupBy(kind, part_id, feature, bin).sum`` merges the partials and the
   per-part counters; ONE Arrow collect brings them to the driver.
3. ``drift_scores_local`` computes PSI = Σ (p−q)·ln(p/q) and KS =
   max|CDF_p − CDF_q| there in numpy, against the sum over the parts or a
   stored baseline — the fixed-bin KS approximation is bounded by bin width
   (SURVEY.md §7.3).

Bins are FIXED (data-independent) so partials merge exactly and baselines
from different runs are comparable — mirrors the reference's own advice to
drift-score against *stored summaries* (outputs/reports/final_report.md:148).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.audio import clip_features_ex, decode_clip_ex
from ..sources.payload_scan import PAYLOAD_COLS, map_payloads
from .base import (
    CheckPlan,
    CheckResult,
    RunContext,
    check_result,
    spark_round_str,
)

R_DECODE = "R060_decode"
R_DURATION = "R061_duration_consistency"
R_CODEC = "R062_codec_fidelity"
R_CLIPPING = "R063_clipping"
R_SILENCE = "R064_silence"
R_DC = "R065_dc_offset"

# payload-quality thresholds (decoded-PCM rules, computed inside the one
# decode pass — no extra read). Calibrated against the codec family: the
# 0.97 clip level sits above every real codec's full-scale roundtrip
# (µ-law max ≈ 0.984) and far above legit synth peaks (≤ 0.75 + noise);
# the 2e-3 silence level sits above IMA ADPCM's minimum-step wander.
CLIP_LEVEL, CLIP_MAX_RATIO = 0.97, 0.02
SIL_LEVEL, SIL_MIN_RATIO = 2e-3, 0.98
DC_MAX = 0.1
# R061 duration consistency (and R068's container duration): decoded vs
# declared duration may differ by max(DUR_TOL_MS, DUR_TOL_REL × declared)
DUR_TOL_MS, DUR_TOL_REL = 20.0, 0.02

# R066 effective bandwidth: flag clips whose spectral energy at/above
# HF_FRAC × Nyquist is below HF_FLOOR_DB of the total — the signature of
# audio upsampled from a lower rate (8 kHz telephony resold as 16 kHz is
# the classic corpus contaminant) or brutally lowpassed. Calibrated on the
# codec roundtrips: genuine full-band clips sit ≥ −25 dB (broadband noise
# floor), band-limited clips through PCM/FLAC/G.711 sit ≤ −40 dB. IMA
# ADPCM is exempt by default: its own quantization noise floor is ≈ −24 dB
# broadband, which refills the high band and masks the evidence — a
# per-codec floor from the operator is the only honest way to scan ADPCM.
R_BANDWIDTH = "R066_bandwidth"
# R068 container metadata: payloads whose codec has no in-container decoder
# (opus/mp3) are still STRUCTURALLY validated — Ogg page CRCs / MPEG frame
# walk via functions/containers.py — and their container-derived duration,
# sample rate, and channel count are checked against the declared columns.
# A malformed container or a metadata mismatch is a violation; a clean probe
# is surfaced as a per-partition 'container_probed' counter (never silent).
R_CONTAINER = "R068_container_meta"
# R067 speech rate: transcript word count vs MEASURED (VAD) speech seconds
# — the decoded twin of the metadata chars/sec rule (R018). See drift_check.
R_SPEECH_RATE = "R067_speech_rate"
# R067 applies its too-fast bound from MIN_WORDS_FAST words and its
# too-slow bound from MIN_SPEECH_SLOW_S seconds of measured speech
MIN_WORDS_FAST, MIN_SPEECH_SLOW_S = 3, 2.0
HF_FRAC = 0.55
HF_FLOOR_DB = -32.0
HF_EXEMPT_CODECS = frozenset({"adpcm_ima"})
R_PSI = "R050_drift_psi"
R_KS = "R051_drift_ks"

N_MFCC = 13
FEATURE_NAMES = [f"mfcc_{i}" for i in range(N_MFCC)] + ["rms", "centroid"]


@dataclass(frozen=True)
class BinSpec:
    lo: float
    hi: float
    n: int


# Bin counts sized for per-partition sample sizes in the hundreds: PSI over
# B bins needs n >> B per side or sampling noise dominates (SURVEY.md §7.3
# bounds the KS approximation by bin width; PSI needs the smoothing below).
DEFAULT_BINS: dict[str, BinSpec] = {
    **{f"mfcc_{i}": BinSpec(-60.0, 60.0, 16) for i in range(N_MFCC)},
    "rms": BinSpec(0.0, 1.0, 16),
    "centroid": BinSpec(0.0, 8000.0, 24),
}


# -------------------------------------------- single-pass decode → tiny stats

# Union-typed output of the one-pass decode: histogram partials (kind='h'),
# sparse per-clip violations (kind='v', rule in feature), per-part row
# counters (kind='c'). NOTHING per-clip survives the stage except violations
# — at 10^12 rows a per-clip feature table cannot be persisted, so the
# shuffle/cache carries only histograms + sparse rows.
_STATS_SCHEMA = (
    "kind string, part_id int, feature string, bin int, cnt long, "
    "clip_id string, observed string, expected string"
)


def stats_record_batch(
    batch: pa.RecordBatch,
    part_col: str,
    strict_codecs: bool = False,
    noise: tuple[float, int] | None = None,
    speech: bool = False,
) -> pa.RecordBatch:
    """Decode + featurize + bin ONE Arrow batch of (clip_id, ``part_col``,
    bytes, codec, sr_hz, dur_ms) into _STATS_SCHEMA rows, over the
    DEFAULT_BINS histogram grid.

    ``speech=True`` additionally emits one kind='s' row per honestly-decoded
    clip carrying its VAD speech time (feature='speech_ms', cnt=ms) — the
    audio side of the R067 speech-rate check. These are the only per-clip
    rows that leave the payload stage besides violations: as thin as the
    uniqueness check's keys, they key-join the transcript table exactly the
    way the referential check does, so the 10^12-row contract is unchanged.
    The kernel is the O(n) cumsum VAD (operators/segment.py::speech_ms_fast)
    — no extra FFT; fake decodes are skipped (synthetic PCM says nothing
    about real speech).

    ``noise=(level, seed)`` injects deterministic per-clip Gaussian noise
    into the decoded PCM at ``level`` × clip RMS before featurization — the
    robustness harness's perturbation point (the graft of the reference's
    feature-noise injection, src/ids/robustness.py:20-41, onto the audio
    seam). Keyed by xxhash64(clip_id) ^ seed so the perturbation is
    identical at any parallelism/partitioning.

    Fake decodes (codec label without a registered real decoder; see
    functions/audio.py::decode_clip_ex) are never silent: each partition
    emits a kind='c' feature='fake_decodes' counter row, and with
    ``strict_codecs`` the clip instead becomes an R062 violation and is
    excluded from the histograms.

    The kernel ``decode_stats`` hands `map_payloads`; payloads are sliced
    from the Arrow binary column as zero-copy memoryviews.
    """
    clip_ids = batch.column("clip_id").to_pylist()
    parts = batch.column(part_col).to_numpy(zero_copy_only=False)
    payloads = batch.column("bytes")
    codecs = batch.column("codec").to_pylist()
    decl_sr = batch.column("sr_hz").to_pylist()
    decl_dur = batch.column("dur_ms").to_pylist()
    n = len(clip_ids)
    feats = np.zeros((n, len(FEATURE_NAMES)))
    ok = np.zeros(n, dtype=bool)
    fake = np.zeros(n, dtype=bool)
    probed = np.zeros(n, dtype=bool)  # R068: container-validated, undecodable
    o_kind: list[str] = []
    o_part: list[int] = []
    o_feat: list[str] = []
    o_bin: list[int | None] = []
    o_cnt: list[int | None] = []
    o_clip: list[str | None] = []
    o_obs: list[str | None] = []
    o_exp: list[str | None] = []

    def viol(rule, part, clip, obs, exp):
        o_kind.append("v")
        o_part.append(int(part))
        o_feat.append(rule)
        o_bin.append(None)
        o_cnt.append(None)
        o_clip.append(clip)
        o_obs.append(obs)
        o_exp.append(exp)

    # cross-row batch decode for batch-friendly codecs (adpcm): one
    # vectorized pass for the whole Arrow batch, per-row error semantics
    from semantic_log_detector_spark.functions.audio import predecode_batch

    pre = predecode_batch(payloads, codecs)

    for i in range(n):
        try:
            if i in pre:
                r = pre[i]
                if isinstance(r, Exception):
                    raise r
                pcm, sr, is_fake = r[0], r[1], False
            else:
                v = payloads[i]
                buf = None if not v.is_valid else memoryview(v.as_buffer())
                pcm, sr, is_fake = decode_clip_ex(buf, codecs[i])
            if is_fake:
                fake[i] = True
                if strict_codecs:
                    viol(R_CODEC, parts[i], clip_ids[i],
                         f"codec {codecs[i]!r} fake-decoded (no real decoder)",
                         "registered decoder for declared codec")
                    continue
            if noise is not None and noise[0] > 0:
                from semantic_log_detector_spark.functions.sparkhash import xxhash64

                key = xxhash64(str(clip_ids[i]).encode("utf-8")) ^ (noise[1] & 0xFFFFFFFF)
                rng = np.random.Generator(np.random.Philox(key=key & 0x7FFFFFFFFFFFFFFF))
                rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2) + 1e-12))
                pcm = pcm + (noise[0] * rms) * rng.standard_normal(
                    len(pcm)
                ).astype(np.float32)
            fv, hf_db = clip_features_ex(pcm, sr, n_mfcc=N_MFCC, hf_frac=HF_FRAC)
            if not np.isfinite(fv).all():
                raise ValueError("non-finite features")
            feats[i] = fv
            ok[i] = True
            if speech and not fake[i]:
                from semantic_log_detector_spark.operators.segment import (
                    speech_ms_fast,
                )

                o_kind.append("s")
                o_part.append(int(parts[i]))
                o_feat.append("speech_ms")
                o_bin.append(None)
                o_cnt.append(int(round(speech_ms_fast(pcm, sr))))
                o_clip.append(clip_ids[i])
                o_obs.append(None)
                o_exp.append(None)
            # R066 effective bandwidth: only on honestly-decoded PCM (fake
            # decodes carry synthetic spectra) and outside the exempt
            # codecs whose quantization floor masks the high band
            if (not fake[i] and codecs[i] not in HF_EXEMPT_CODECS
                    and hf_db < HF_FLOOR_DB):
                viol(R_BANDWIDTH, parts[i], clip_ids[i],
                     f"hf_ratio_db={hf_db:.1f}",
                     f"energy >= {HF_FRAC:.2f}*nyquist above {HF_FLOOR_DB} dB")
            # payload-quality rules on the decoded PCM (same pass, no
            # extra read): clipping, near-silence, DC-offset bias
            absd = np.abs(pcm)
            if len(absd):
                clip_ratio = float((absd >= CLIP_LEVEL).mean())
                if clip_ratio > CLIP_MAX_RATIO:
                    viol(R_CLIPPING, parts[i], clip_ids[i],
                         f"clipping_ratio={clip_ratio:.4f}",
                         f"fraction(|s|>={CLIP_LEVEL}) <= {CLIP_MAX_RATIO}")
                sil_ratio = float((absd < SIL_LEVEL).mean())
                if sil_ratio > SIL_MIN_RATIO:
                    viol(R_SILENCE, parts[i], clip_ids[i],
                         f"silence_ratio={sil_ratio:.4f}",
                         f"fraction(|s|<{SIL_LEVEL}) <= {SIL_MIN_RATIO}")
                dc = float(abs(pcm.mean()))
                if dc > DC_MAX:
                    viol(R_DC, parts[i], clip_ids[i],
                         f"dc_offset={dc:.4f}", f"|mean(s)| <= {DC_MAX}")
            dd, dsr = decl_dur[i], decl_sr[i]
            if dd is not None and dd > 0 and dsr is not None and dsr == sr:
                decoded_ms = len(pcm) * 1000.0 / sr
                if abs(decoded_ms - dd) > max(DUR_TOL_MS, abs(dd) * DUR_TOL_REL):
                    viol(R_DURATION, parts[i], clip_ids[i],
                         str(round(decoded_ms, 1)), str(dd))
        except NotImplementedError as e:
            # real container without a registered decoder (opus/mp3 magic):
            # probe the container structure instead of writing the row off —
            # framing integrity + declared-vs-container metadata are still
            # fully checkable (R068), audio decode keeps refusing honestly
            from semantic_log_detector_spark.functions.containers import PROBERS

            v = payloads[i]
            raw = None if not v.is_valid else bytes(memoryview(v.as_buffer()))
            if codecs[i] not in PROBERS or raw is None:
                viol(R_DECODE, parts[i], clip_ids[i],
                     f"{type(e).__name__}: {e}"[:200], "payload decodes cleanly")
                continue
            try:
                meta = PROBERS[codecs[i]](raw)
            except ValueError as pe:
                viol(R_CONTAINER, parts[i], clip_ids[i],
                     f"{type(pe).__name__}: {pe}"[:200],
                     "container structure is valid")
                continue
            probed[i] = True
            dd = decl_dur[i]
            cd = meta.get("duration_ms")
            if dd is not None and dd > 0 and cd is not None:
                tol = max(DUR_TOL_MS, abs(dd) * DUR_TOL_REL,
                          meta.get("duration_grain_ms", 0.0))
                if abs(cd - dd) > tol:
                    viol(R_CONTAINER, parts[i], clip_ids[i],
                         f"container_dur_ms={cd:.1f}", str(dd))
            csr = meta.get("sample_rate_hz") or meta.get("input_sample_rate_hz")
            dsr = decl_sr[i]
            if dsr is not None and csr and int(csr) != int(dsr):
                viol(R_CONTAINER, parts[i], clip_ids[i],
                     f"container_sr_hz={csr}", str(dsr))
        except Exception as e:  # decode is allowed to fail per-row
            viol(R_DECODE, parts[i], clip_ids[i],
                 f"{type(e).__name__}: {e}"[:200], "payload decodes cleanly")

    for p in np.unique(parts):
        sel = parts == p
        o_kind.append("c")
        o_part.append(int(p))
        o_feat.append("rows")
        o_bin.append(None)
        o_cnt.append(int(sel.sum()))
        o_clip.append(None)
        o_obs.append(None)
        o_exp.append(None)
        n_fake = int((sel & fake).sum())
        if n_fake:  # surfaced fake-decode counter — never silent
            o_kind.append("c")
            o_part.append(int(p))
            o_feat.append("fake_decodes")
            o_bin.append(None)
            o_cnt.append(n_fake)
            o_clip.append(None)
            o_obs.append(None)
            o_exp.append(None)
        n_probed = int((sel & probed).sum())
        if n_probed:  # container-validated undecodable clips — never silent
            o_kind.append("c")
            o_part.append(int(p))
            o_feat.append("container_probed")
            o_bin.append(None)
            o_cnt.append(n_probed)
            o_clip.append(None)
            o_obs.append(None)
            o_exp.append(None)
        sub = feats[sel & ok]
        if len(sub) == 0:
            continue
        for fi, name in enumerate(FEATURE_NAMES):
            spec = DEFAULT_BINS[name]
            idx = np.clip(
                ((sub[:, fi] - spec.lo) / (spec.hi - spec.lo) * spec.n).astype(int),
                0, spec.n - 1,
            )
            binc = np.bincount(idx, minlength=spec.n)
            nz = np.nonzero(binc)[0]
            o_kind.extend(["h"] * len(nz))
            o_part.extend([int(p)] * len(nz))
            o_feat.extend([name] * len(nz))
            o_bin.extend(nz.tolist())
            o_cnt.extend(binc[nz].tolist())
            o_clip.extend([None] * len(nz))
            o_obs.extend([None] * len(nz))
            o_exp.extend([None] * len(nz))

    return pa.record_batch(
        [
            pa.array(o_kind, type=pa.string()),
            pa.array(o_part, type=pa.int32()),
            pa.array(o_feat, type=pa.string()),
            pa.array(o_bin, type=pa.int32()),
            pa.array(o_cnt, type=pa.int64()),
            pa.array(o_clip, type=pa.string()),
            pa.array(o_obs, type=pa.string()),
            pa.array(o_exp, type=pa.string()),
        ],
        names=["kind", "part_id", "feature", "bin", "cnt",
               "clip_id", "observed", "expected"],
    )


def decode_stats(
    df: DataFrame,
    ctx: RunContext,
    strict_codecs: bool = False,
    noise: tuple[float, int] | None = None,
    speech: bool = False,
    pending_parts: list[int] | None = None,
) -> DataFrame:
    """ONE Arrow pass over (clip_id, part_id, bytes, codec, sr_hz, dur_ms)
    of the clips in ``pending_parts`` (all when None): decode +
    feature-extract each clip, bin features into fixed per-batch histogram
    partials, and emit R060/R061 violations inline.

    Output rows (see _STATS_SCHEMA):
      kind='h' → (part_id, feature, bin, cnt) histogram partial
      kind='v' → (part_id, feature=rule_id, clip_id, observed, expected)
      kind='c' → (part_id, feature='rows', cnt) per-batch row counter

    `stats_record_batch` over `map_payloads`, which routes the pass from
    ``df`` itself: a bare parquet scan is read in the Python workers and
    its payload bytes never cross the JVM→worker socket; any other frame
    is fed by the JVM. Arrow, not pandas: binary columns slice as
    zero-copy memoryviews. The downstream groupBy merges 'h'/'c' partials
    — the shuffle carries ≤ parts×features×bins rows per task, never
    per-clip rows.
    """
    part_col = ctx.part_col

    def kernel(batch):
        yield stats_record_batch(batch, part_col, strict_codecs, noise, speech)

    return map_payloads(df, PAYLOAD_COLS, kernel, _STATS_SCHEMA, ctx, pending_parts)


# ------------------------------------------------------------------ scoring

# Laplace (add-α) smoothing for PSI: p=(cnt+α)/(n+αB). Symmetric in p and q,
# unlike a bare epsilon, so empty sample bins don't blow up ln(p/q).
_ALPHA = 0.5


def smoothed_psi(counts: np.ndarray, base: np.ndarray) -> np.ndarray:
    """PSI of each row of ``counts`` (last axis: bins) against the ``base``
    histogram over the same bins, both add-α smoothed. The one PSI
    definition of the batch check and the streaming operators."""
    nb = counts.shape[-1]
    p = (counts + _ALPHA) / (counts.sum(axis=-1, keepdims=True) + _ALPHA * nb)
    q = (base + _ALPHA) / (base.sum() + _ALPHA * nb)
    return ((p - q) * np.log(p / q)).sum(axis=-1)


def drift_scores_local(hist_rows: list, ctx: RunContext,
                       baseline: list | None = None) -> list[tuple]:
    """PSI/KS on collected histogram rows [(part, feature, bin, cnt)] —
    numpy, vectorized per feature over a parts × bins matrix. SURVEY.md
    §4.4: PSI/KS belong on the *collected tiny histogram tables*
    (parts × features × bins; ≈23k rows at P=64, ≈2M at P=8192).
    Returns [(part_id, feature, psi, ks)]: Laplace-smoothed PSI
    (`smoothed_psi`) and fixed-bin KS.

    The baseline defaults to the sum over the parts (a self-baseline in the
    spirit of the reference's fit-on-normal pass,
    `src/detection/pipeline.py:124-134`). ``baseline``: stored
    [(feature, bin, cnt)] rows (features × bins, collected once) to score
    against instead, for cross-run drift; each feature is then scored over
    the baseline's bins, histogram bins outside them are dropped and a
    baseline bin no part hits counts 0.
    """
    import collections

    by_feat: dict[str, dict] = collections.defaultdict(dict)
    bins_by_feat: dict[str, set] = collections.defaultdict(set)
    parts = set()
    for part, feature, b, cnt in hist_rows:
        by_feat[feature][(part, b)] = cnt
        bins_by_feat[feature].add(b)
        parts.add(part)
    base_cnt: dict[str, dict] | None = None
    if baseline is not None:
        base_cnt = collections.defaultdict(dict)
        for feature, b, cnt in baseline:
            base_cnt[feature][b] = base_cnt[feature].get(b, 0) + cnt
    plist = sorted(parts)
    pidx = {p: i for i, p in enumerate(plist)}
    out = []
    for feature in (by_feat if base_cnt is None else base_cnt):
        bins = sorted(bins_by_feat[feature] if base_cnt is None else base_cnt[feature])
        bidx = {b: i for i, b in enumerate(bins)}
        mat = np.zeros((len(plist), len(bins)))
        for (part, b), cnt in by_feat.get(feature, {}).items():
            if b in bidx:
                mat[pidx[part], bidx[b]] = cnt
        if base_cnt is None:
            base = mat.sum(axis=0)
        else:
            base = np.array([base_cnt[feature][b] for b in bins], dtype=float)
        psi = smoothed_psi(mat, base)
        cdf_p = np.cumsum(mat, axis=1) / np.maximum(mat.sum(axis=1, keepdims=True), 1)
        cdf_q = np.cumsum(base) / max(base.sum(), 1)
        ks = np.abs(cdf_p - cdf_q).max(axis=1)
        for i, part in enumerate(plist):
            out.append((int(part), feature, float(psi[i]), float(ks[i])))
    return out


def _pylist(col: pa.ChunkedArray) -> list:
    """``col.to_pylist()`` of a null-free column, built through numpy (and
    through the dictionary for strings): ≈10× faster on the ≈2M-row
    histogram of 8192 parts."""
    if pa.types.is_integer(col.type):
        return col.to_numpy().tolist()
    d = pc.dictionary_encode(col).combine_chunks()
    return np.array(d.dictionary.to_pylist(), dtype=object)[
        d.indices.to_numpy()].tolist()


def drift_plan(
    clips: DataFrame,
    ctx: RunContext,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.2,
    baseline: DataFrame | None = None,
    pending_parts: list[int] | None = None,
    strict_codecs: bool = False,
    noise: tuple[float, int] | None = None,
    transcripts: DataFrame | None = None,
    wps_range: tuple[float, float] = (0.4, 8.0),
) -> CheckPlan:
    """Full drift + decode check, as a :class:`CheckPlan` for the shared
    verdict assembly (``drift_check`` runs it on its own). Verdicts per
    (part, rule) for R050/R051 (drift) and violations for R060/R061
    (decode/duration).

    ``transcripts`` (clip_id, transcript) switches on R067_speech_rate: the
    decoded-PCM twin of the metadata chars/sec row rule (R018). The decode
    pass emits each clip's VAD speech time (kind='s' rows, zero extra FFT)
    and the transcript's whitespace word count — computed JVM-side — must
    be plausible against it: a transcript with ≥ MIN_WORDS_FAST words
    needs speech time ≥ words/max_wps (catches transcripts paired with
    silence or the wrong clip — metadata rules can't see decoded silence),
    and ≥ MIN_SPEECH_SLOW_S s of measured speech needs ≥
    min_wps × speech_s words (catches truncated/empty transcripts under
    speechy audio). Inner join on clip_id: clips with no transcript row are
    the referential check's finding, not double-reported here. Bounds are
    generous (default 0.4–8 wps vs ~2–3 for natural speech) because energy
    VAD counts any energy as speech (music corpora should widen or disable
    via SuiteConfig). Both sides of the join are thin per-clip rows — the
    same scale shape as the referential check.

    One heavy pass: ``decode_stats`` reads bytes exactly once and emits only
    tiny rows (histogram partials, sparse violations, row counters), so the
    persist below caches kilobytes regardless of input size — the per-clip
    feature table never exists (it couldn't, at 10^12 rows). ONE Arrow
    collect brings the merged histogram and the per-part counters to the
    driver (parts × features × bins rows, ≈2M at 8192 parts), which scores
    PSI/KS (`drift_scores_local`, against ``baseline`` when given) and
    judges R050/R051/R062 there at every part count; the sparse decode
    violations stay a Spark plan over the cached pass.

    The heavy pass routes itself from ``clips`` (``decode_stats``): a bare
    parquet scan is read by the Python-native row-group reader, so pass
    the caller's frame as it came — a column added to it
    (``ensure_part_id``) makes it no longer a bare scan.
    ``pending_parts`` scopes either route to those parts (wave resume)."""
    speech = transcripts is not None
    stats = decode_stats(clips, ctx, strict_codecs=strict_codecs, noise=noise,
                         speech=speech, pending_parts=pending_parts)
    stats.persist()
    try:
        # Arrow, not Row objects: at 8192 parts the collect is ≈2M rows
        small = (
            stats.filter(F.col("kind").isin("c", "h"))
            .groupBy("kind", "part_id", "feature", "bin")
            .agg(F.sum("cnt").alias("cnt")).toArrow()
        )
        is_hist = pc.equal(small.column("kind"), "h")
        hist = small.filter(is_hist)
        hist_rows = list(zip(*(_pylist(hist.column(c))
                               for c in ("part_id", "feature", "bin", "cnt"))))
        counters = small.filter(pc.invert(is_hist))
        n_rows: dict[int, int] = {}
        n_fake: dict[int, int] = {}
        for part, feature, cnt in zip(*(counters.column(c).to_pylist()
                                        for c in ("part_id", "feature", "cnt"))):
            if feature == "rows":
                n_rows[part] = cnt
            elif feature == "fake_decodes":
                n_fake[part] = cnt
        is_decode = F.col("feature") == R_DECODE
        is_codec = F.col("feature") == R_CODEC
        is_container = F.col("feature") == R_CONTAINER
        is_quality = F.col("feature").isin(R_CLIPPING, R_SILENCE, R_DC, R_BANDWIDTH)
        viol_rows = stats.filter(F.col("kind") == "v").select(
            F.lit(ctx.run_id).alias("run_id"),
            F.col("part_id").cast("int").alias("part_id"),
            F.col("feature").alias("rule_id"),
            "clip_id",
            F.when(is_codec, F.lit("codec"))
            .when(is_decode | is_quality | is_container, F.lit("bytes"))
            .otherwise(F.lit("dur_ms")).alias("column"),
            F.col("observed"),
            F.col("expected"),
            F.when(is_decode, F.lit("Critical"))
            .when(is_codec | is_container, F.lit("High"))
            .otherwise(F.lit("Medium")).alias("severity"),
            F.when(
                is_decode,
                F.concat(F.lit("payload failed to decode: "), F.col("observed")),
            ).when(
                is_container,
                F.lit("undecodable payload failed container-level validation "
                      "(framing integrity or declared-metadata mismatch)"),
            ).when(
                is_codec,
                F.lit("declared codec has no registered decoder (strict_codecs)"),
            ).when(
                F.col("feature") == R_CLIPPING,
                F.lit("decoded waveform is clipped (flat-topped at full scale)"),
            ).when(
                F.col("feature") == R_SILENCE,
                F.lit("decoded waveform is effectively silent"),
            ).when(
                F.col("feature") == R_DC,
                F.lit("decoded waveform carries a DC-offset bias"),
            ).when(
                F.col("feature") == R_BANDWIDTH,
                F.lit("effective bandwidth far below Nyquist (upsampled or lowpassed audio)"),
            ).otherwise(F.lit("decoded duration differs from declared dur_ms")).alias("explanation"),
        )

        # per part: (max psi, max ks, feature of the max psi)
        best: dict[int, tuple[float, float, str]] = {}
        base_rows = None if baseline is None else [
            tuple(r) for r in baseline.select("feature", "bin", "cnt").collect()]
        for part, feature, psi, ks in drift_scores_local(hist_rows, ctx, base_rows):
            cur = best.get(part)
            max_psi = max(psi, cur[0]) if cur else psi
            max_ks = max(ks, cur[1]) if cur else ks
            worst = feature if (cur is None or psi >= cur[0]) else cur[2]
            best[part] = (max_psi, max_ks, worst)

        verdicts, violations = [], []
        for part in sorted(n_rows):
            nr = n_rows[part]
            psi, ks, worst = best.get(part, (None, None, None))
            for rule, name, v, thr in ((R_PSI, "max_psi", psi, psi_threshold),
                                       (R_KS, "max_ks", ks, ks_threshold)):
                ok = v is None or v <= thr  # a part with no histogram passes
                verdicts.append((
                    ctx.run_id, part, rule, ok, nr, 0 if ok else 1,
                    None if v is None else f"{name}={spark_round_str(v, 4)} feature={worst}",
                    f"{name} <= {thr}", "drift"))
            if psi is not None and (psi > psi_threshold or ks > ks_threshold):
                violations.append((
                    ctx.run_id, part, R_PSI if psi > psi_threshold else R_KS, None,
                    worst, f"psi={spark_round_str(psi, 4)} ks={spark_round_str(ks, 4)}",
                    f"psi<={psi_threshold} ks<={ks_threshold}", "High",
                    f"partition feature distribution drifted from baseline ({worst})",
                    "drift"))
            if not strict_codecs:
                # lenient mode: fake decodes pass but are REPORTED per
                # partition in the R062 verdict row — the no-silent-fake
                # contract
                verdicts.append((
                    ctx.run_id, part, R_CODEC, True, nr, 0,
                    f"n_fake_decoded={n_fake.get(part, 0)}",
                    "real decoder registered for every declared codec", "drift"))
        if speech:
            min_wps, max_wps = wps_range
            t = F.trim(F.col("transcript"))
            words = F.when(
                F.col("transcript").isNull() | (t == ""), F.lit(0)
            ).otherwise(F.size(F.split(t, r"\s+")))
            wc = transcripts.select(F.col("clip_id"), words.alias("words"))
            sp = stats.filter(F.col("kind") == "s").select(
                "part_id", "clip_id",
                (F.col("cnt") / 1000.0).alias("speech_s"))
            # multiplication forms, not words/speech_s: ANSI mode + no
            # div-by-zero branch needed for silent clips (speech_s = 0)
            too_fast = (F.col("words") >= MIN_WORDS_FAST) & (
                F.col("words") > F.col("speech_s") * max_wps)
            too_slow = (F.col("speech_s") >= MIN_SPEECH_SLOW_S) & (
                F.col("words") < F.col("speech_s") * min_wps)
            sr_viols = sp.join(wc, "clip_id").filter(too_fast | too_slow).select(
                F.lit(ctx.run_id).alias("run_id"),
                F.col("part_id").cast("int").alias("part_id"),
                F.lit(R_SPEECH_RATE).alias("rule_id"),
                "clip_id",
                F.lit("transcript").alias("column"),
                F.concat(F.lit("words="), F.col("words"),
                         F.lit(" speech_s="), F.round("speech_s", 2)).alias("observed"),
                F.lit(f"{min_wps} <= words/speech_s <= {max_wps}").alias("expected"),
                F.lit("Medium").alias("severity"),
                F.when(too_fast, F.lit(
                    "transcript too wordy for the measured speech time "
                    "(wrong pairing or hallucinated text)"
                )).otherwise(F.lit(
                    "speechy audio with an implausibly short transcript "
                    "(truncated or mismatched text)"
                )).alias("explanation"),
            )
            viol_rows = viol_rows.unionByName(sr_viols)
        decode_rules = [R_DECODE, R_DURATION, R_CLIPPING, R_SILENCE, R_DC,
                        R_BANDWIDTH, R_CONTAINER] \
            + ([R_CODEC] if strict_codecs else []) \
            + ([R_SPEECH_RATE] if speech else [])
        return CheckPlan(
            ("drift",), rules=[("drift", r) for r in decode_rules],
            sparse=viol_rows.withColumn("check_id", F.lit("drift")),
            n_rows=n_rows, verdicts=verdicts, violations=violations,
            resources=[stats])
    except Exception:
        stats.unpersist()
        raise


def drift_check(clips: DataFrame, ctx: RunContext, *args, **kwargs) -> CheckResult:
    """:func:`drift_plan` (same arguments) executed and assembled on its
    own (``base.check_result``). ``resources[0]`` is the cached decode
    pass; ``release()`` unpersists it."""
    return check_result(clips.sparkSession, drift_plan(clips, ctx, *args, **kwargs), ctx)
