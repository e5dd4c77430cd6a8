"""Acoustic content-duplicate detection — dedup for the audio axis.

Text near-dup (MinHash/SimHash over shingles) cannot see that two clips
carry the same AUDIO: the same recording re-encoded (pcm → mulaw → adpcm)
shares no bytes and no transcript guarantee. The reference has no audio
dedup (its payloads are log lines); this closes the dedup ladder over the
graft's payload axis with the same machinery the text ladder uses:

1. ``audio_fingerprint`` — one Arrow pass decodes each payload
   (real codecs only: `functions/audio.py` registry) and computes a
   60-bit **melody fingerprint**: the clip is cut into 15 equal segments,
   each segment's centered 512-sample Hann window is FFT'd, its energy is
   pooled into 16 log-spaced bands, and the dominant band index (4 bits)
   is recorded — 15 × 4 = 60 bits. Every clip is canonicalized to FP_SR
   first (linear resample), so the fingerprint is sample-rate-invariant —
   the same recording at 8 kHz mulaw and 16 kHz pcm matches.
   Dominant-band-per-segment is robust to
   codec quantization noise (G.711 ≈37 dB, IMA ADPCM ≥15 dB: the tonal
   peak still wins its band) yet discriminative between contents (two
   random melodies agree on a segment with p = 1/16; Hamming ≤ 3 between
   distinct contents needs ≥ 12/15 agreements, p ≈ 1e-12). The kernel is
   batch-vectorized: all rows' windows are stacked into ONE (rows×15, 512)
   matrix per Arrow batch — one rfft call, one band-mask matmul, one
   argmax; no per-row FFT loop.
2. ``audio_dup_pairs`` — the exact Hamming-≤k pigeonhole self-join shared
   with the text SimHash path (`dedup.hamming60_pairs`): 4 bands × 15
   bits, complete for k ≤ 3, bucket guard surfaced.

Scale shape: the payload pass runs through the drift check's reader
(`sources/payload_scan.py::map_payloads`: payloads never cached, only
8-byte fingerprints shuffle); the pair search shuffles (id, sh) pairs
only — at 10^12 clips the heavy bytes stay in the scan stage.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fingerprint geometry. Every clip is canonicalized to FP_SR before the
# FFT (linear resample), so the fingerprint is SAMPLE-RATE-invariant: the
# same content at 8 kHz mulaw and 16 kHz pcm matches. The FP_SEGMENTS
# window centers are spread proportionally across the WHOLE clip (round 4;
# previously only the first second was fingerprinted, so two distinct
# clips sharing an intro jingle collided at Hamming 0 — the dominant
# false-positive mode on real corpora). Clips shorter than one window are
# zero-padded. Bands span the speech-ish range, entirely below the
# 8 kHz-input Nyquist so canonicalization never moves a dominant band.
#
# Clips whose sampled windows carry no measurable energy (RMS below
# FP_MIN_RMS — digital silence, DC, comfort noise at < −80 dBFS) get a
# null fingerprint instead of the degenerate all-zero-bands code: silence
# has no content identity, and letting every silent clip collide at fp=0
# would flood the pair join with meaningless "duplicates".
FP_SR = 16000
FP_SEGMENTS = 15
FP_BANDS = 16
FP_WIN = 512
FP_MIN_RMS = 1e-4
_BAND_LO, _BAND_HI = 200.0, 3800.0

_MASK_CACHE: dict[int, np.ndarray] = {}


def _band_masks(sr: int) -> np.ndarray:
    """(FP_WIN//2+1, FP_BANDS) 0/1 matrix pooling rfft power bins into
    log-spaced bands, cached per sample rate."""
    m = _MASK_CACHE.get(sr)
    if m is None:
        centers = np.geomspace(_BAND_LO, _BAND_HI, FP_BANDS)
        r = np.sqrt(centers[1] / centers[0])
        edges = np.concatenate(
            [[centers[0] / r], np.sqrt(centers[1:] * centers[:-1]), [centers[-1] * r]]
        )
        freqs = np.arange(FP_WIN // 2 + 1) * sr / FP_WIN
        m = (
            (freqs[:, None] >= edges[None, :-1]) & (freqs[:, None] < edges[None, 1:])
        ).astype(np.float64)
        _MASK_CACHE[sr] = m
    return m


def _fingerprint_rows(
    pcms: list[np.ndarray | None], srs: list[int]
) -> list[int | None]:
    """60-bit melody fingerprints for a batch of decoded clips.

    Every clip is first canonicalized to FP_SR (linear resample — a no-op
    for clips already at 16 kHz); the FP_SEGMENTS window centers are
    spread proportionally over the WHOLE clip (center k at
    (k+0.5)/FP_SEGMENTS of the canonicalized length, clamped so each
    512-sample window fits), so two clips must agree along their entire
    duration to collide — not just in the first second. Windows from a
    chunk of rows are stacked into one (rows*15, 512) matrix — a single
    rfft + band matmul + argmax per chunk; only the per-row resample +
    gather (15×512 samples each) runs row-at-a-time.

    Rows with no decoded samples, or whose sampled windows fall below the
    FP_MIN_RMS energy floor, yield None (no content identity — see the
    module constants)."""
    from ..functions.audio import resample_linear

    out: list[int | None] = [None] * len(pcms)
    group = [
        i
        for i, (pcm, sr) in enumerate(zip(pcms, srs))
        if pcm is not None and len(pcm) > 0 and sr > 0
    ]
    win = np.hanning(FP_WIN)
    offs = np.arange(-(FP_WIN // 2), FP_WIN // 2)
    masks = _band_masks(FP_SR)
    # chunk so the stacked window matrix stays bounded: each row
    # contributes FP_SEGMENTS×FP_WIN float64 samples (~61 KB) regardless
    # of clip length — the per-row resampled pcm is transient (gathered
    # then dropped), so memory no longer scales with clip duration
    chunk = max(1, (8 << 20) // (FP_SEGMENTS * FP_WIN))
    for c0 in range(0, len(group), chunk):
        rows = group[c0 : c0 + chunk]
        w = np.empty((len(rows), FP_SEGMENTS, FP_WIN), dtype=np.float64)
        for j, i in enumerate(rows):
            # canonical rate: the fingerprint is sample-rate-invariant
            pcm = resample_linear(pcms[i], int(srs[i]), FP_SR)
            if len(pcm) < FP_WIN:
                pcm = np.pad(pcm, (0, FP_WIN - len(pcm)))
            n = len(pcm)
            centers = ((np.arange(FP_SEGMENTS) + 0.5) * n / FP_SEGMENTS).astype(
                np.int64
            )
            centers = np.clip(centers, FP_WIN // 2, n - FP_WIN // 2)
            w[j] = pcm[centers[:, None] + offs[None, :]]
        rms = np.sqrt(np.mean(w * w, axis=(1, 2)))
        spec = np.abs(np.fft.rfft((w * win).reshape(-1, FP_WIN), axis=1)) ** 2
        bands = spec @ masks  # (rows*segments, FP_BANDS)
        codes = bands.argmax(axis=1).reshape(len(rows), FP_SEGMENTS)
        packed = np.zeros(len(rows), dtype=np.int64)
        for k in range(FP_SEGMENTS):
            packed = (packed << 4) | codes[:, k].astype(np.int64)
        for j, i in enumerate(rows):
            if rms[j] >= FP_MIN_RMS:
                out[i] = int(packed[j])
    return out


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, fp, fake[, passthrough…]) per clip: 60-bit melody fingerprint
    of the decoded payload, sample-rate-invariant (canonicalized to FP_SR
    before the FFT). ``fp`` is null when the payload fails to decode or
    reports a non-positive sample rate; ``fake`` is
    true when the codec routed through the deterministic-fake decoder
    (such rows can only ever match other fake rows — exclude them for
    honest dedup, which `audio_dup_pairs` does by default).
    ``passthrough`` columns are carried to the output unchanged (e.g. the
    event-time column for the streaming twin).

    The pass is one kernel over `sources/payload_scan.py::map_payloads`:
    a bare parquet scan is read by the Python-native row-group reader, so
    payload bytes never cross the JVM→worker socket; any other frame is
    fed by the JVM. Both routes hand the kernel the same rows (tested)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from ..sources.payload_scan import map_payloads

    # a passthrough column read from parquet may carry another Arrow type
    # than the JVM sends for it (Spark's INT96 timestamps read as ns)
    pass_types = [to_arrow_type(df.schema[c].dataType) for c in passthrough]

    def kernel(rb):
        from ..functions.audio import decode_clip_ex, predecode_batch

        ids = [str(x) for x in rb.column(id_col).to_pylist()]
        payloads = rb.column(bytes_col)
        codecs = rb.column(codec_col).to_pylist()
        # batch path for adpcm; values are (pcm, sr) or a deferred
        # per-row Exception
        pre = predecode_batch(payloads, codecs)
        pcms: list[np.ndarray | None] = []
        srs: list[int] = []
        fakes: list[bool] = []
        for i, codec in enumerate(codecs):
            try:
                hit = pre.get(i)
                if isinstance(hit, Exception):
                    raise hit
                if hit is not None:
                    pcm, sr = hit
                    fake = False
                else:
                    pcm, sr, fake = decode_clip_ex(bytes(payloads[i].as_py()), codec)
                pcms.append(pcm)
                srs.append(sr)
                fakes.append(bool(fake))
            except Exception:
                pcms.append(None)
                srs.append(0)
                fakes.append(False)
        yield pa.record_batch(
            [pa.array(ids, pa.string()),
             pa.array(_fingerprint_rows(pcms, srs), pa.int64()),
             pa.array(fakes, pa.bool_()),
             *[rb.column(c).cast(t) for c, t in zip(passthrough, pass_types)]],
            names=["id", "fp", "fake", *passthrough])

    schema = "id string, fp long, fake boolean"
    for c in passthrough:
        schema += f", {c} {df.schema[c].dataType.simpleString()}"
    return map_payloads(df, [id_col, bytes_col, codec_col, *passthrough], kernel, schema)


def audio_dup_pairs(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    max_hamming: int = 3,
    max_bucket: int | None = 1_000_000,
    drop_stats: dict | None = None,
    include_fake: bool = False,
) -> DataFrame:
    """Exact Hamming-≤k pairs over the acoustic fingerprint — every pair
    of clips whose melody fingerprints differ by at most ``max_hamming``
    bits, found with the shared 4×15-bit pigeonhole join (complete for
    k ≤ 3, never all-pairs). Fake-decoded rows are excluded unless
    ``include_fake`` (a fake "match" says nothing about the audio).
    Bucket-drop accounting follows `dedup.hamming60_pairs`: guaranteed
    only with a ``drop_stats`` dict; under AQE the default is
    cap-with-WARNING, no counts. Returns (id_a, id_b, hamming)."""
    from .dedup import hamming60_pairs

    fps = audio_fingerprint(df, id_col, bytes_col, codec_col)
    if not include_fake:
        fps = fps.filter(~F.col("fake"))
    base = fps.filter(F.col("fp").isNotNull()).select("id", F.col("fp").alias("sh"))
    return hamming60_pairs(
        base, max_hamming, max_bucket, drop_stats, op="audio_dup_pairs"
    )


def _banded_fps(fps: DataFrame, id_alias: str, fp_alias: str) -> DataFrame:
    """Explode a (id, fp) table into its 4×15-bit pigeonhole bands — the
    cross-table sibling of the banding inside `dedup.hamming60_pairs`
    (any pair within Hamming ≤ 3 of 60 bits agrees on at least one whole
    band, so a band equi-join is COMPLETE for k ≤ 3)."""
    return fps.select(
        F.col("id").alias(id_alias),
        F.col("fp").alias(fp_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", b * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_alias, fp_alias, "bb.band", "bb.key")


def audio_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    bench_id_col: str | None = None,
    max_hamming: int = 3,
    max_broadcast_fps: int = 5_000_000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Benchmark contamination on the AUDIO axis: corpus clips whose
    acoustic fingerprint is within ``max_hamming`` bits of an eval-set
    clip's — the same recording re-encoded, resampled or re-noised into
    the training corpus. Text decontamination
    (`dedup.contamination_pairs`, the transcript twin) cannot see this
    leakage: a re-ASR'd copy shares no text. Fragment-level containment
    (an eval snippet CUT INTO a longer training clip) is
    `audio_search.audio_snippet_search`'s job — use the eval clips as the
    query side there.

    Scale shape mirrors the text twin: both sides run the one-pass
    fingerprint kernel (payloads never leave the scan stage); the
    benchmark is small by nature, so its banded fingerprints are
    BROADCAST when they fit — guarded by one cheap count on the BENCH
    side only (the corpus is never counted; recorded under
    ``drop_stats['bench_fp_bands']`` when a dict is passed). Above
    ``max_broadcast_fps`` banded rows the hint is dropped and the join
    falls back to a shuffle join instead of failing at runtime. The
    10^12-row corpus is scanned once with a narrow projection + hash
    join; only band collisions (rare) reach the Hamming filter.
    Fake-decoded and null-fingerprint rows are excluded on BOTH sides (a
    fake match attests nothing about audio; silence has no identity).
    Returns (clip_id, bench_id, hamming)."""
    from .dedup import hamming64

    bench_id_col = bench_id_col or id_col
    corp_fps = (
        audio_fingerprint(corpus, id_col, bytes_col, codec_col)
        .filter(~F.col("fake") & F.col("fp").isNotNull())
    )
    bench_fps = (
        audio_fingerprint(benchmark, bench_id_col, bytes_col, codec_col)
        .filter(~F.col("fake") & F.col("fp").isNotNull())
    )
    from .dedup import _track_persist

    # persist before the guard count so the benchmark decodes ONCE (the
    # count materializes the cache the join then reuses); released via
    # dedup.unpersist_all(drop_stats) or ContextCleaner GC
    bench_banded = _track_persist(
        _banded_fps(bench_fps, "bench_id", "bench_fp"), drop_stats
    )
    n_bands = bench_banded.count()  # bench side only — small by contract
    if isinstance(drop_stats, dict):
        drop_stats["bench_fp_bands"] = n_bands
    if n_bands <= max_broadcast_fps:
        bench_banded = F.broadcast(bench_banded)
    else:
        import warnings

        warnings.warn(
            f"audio_contamination_pairs: benchmark bands ({n_bands}) exceed "
            f"max_broadcast_fps={max_broadcast_fps}; falling back to a "
            "shuffle join",
            stacklevel=2,
        )
    corp_banded = _banded_fps(corp_fps, "clip_id", "clip_fp")
    return (
        corp_banded.join(bench_banded, ["band", "key"])
        .filter(hamming64(F.col("clip_fp"), F.col("bench_fp")) <= max_hamming)
        .select(
            "clip_id",
            "bench_id",
            hamming64(F.col("clip_fp"), F.col("bench_fp")).alias("hamming"),
        )
        .dropDuplicates(["clip_id", "bench_id"])
    )


def audio_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    bench_id_col: str | None = None,
    max_hamming: int = 3,
    max_broadcast_fps: int = 5_000_000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Corpus minus acoustically contaminated clips: null-safe left_anti
    against the flagged ids from `audio_contamination_pairs` (same
    kwargs) — the audio rung of the decontamination story
    (`dedup.decontaminate` is the transcript rung; run both on a bimodal
    corpus). With a ``drop_stats`` dict the flagged-id set is counted
    eagerly (``decontaminated_clips``)."""
    flagged = (
        audio_contamination_pairs(
            corpus, benchmark, id_col, bytes_col, codec_col,
            bench_id_col, max_hamming, max_broadcast_fps, drop_stats,
        )
        .select(F.col("clip_id").alias("__flagged_id"))
        .distinct()
    )
    if isinstance(drop_stats, dict):
        drop_stats["decontaminated_clips"] = flagged.count()
    return corpus.join(
        flagged,
        F.col(id_col).eqNullSafe(F.col("__flagged_id")),
        "left_anti",
    )
