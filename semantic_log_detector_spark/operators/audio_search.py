"""Audio snippet search — query-by-content over a clip corpus.

Given a short audio snippet (possibly re-encoded, resampled, and cut at
an arbitrary offset), find which corpus clips CONTAIN it and where. This
is the retrieval dual of `audio_dedup` (whole-clip identity): dedup asks
"are these two clips the same recording", search asks "does this
recording appear anywhere inside that one" — the op a training-data
pipeline needs for provenance tracing (did a benchmark audio prompt leak
into the corpus?) and clip-level decontamination, where the contaminant
is a fragment, not the whole file.

Design (landmark voting, the Wang/Shazam scheme re-expressed for Spark):

1. ``audio_landmarks`` — one Arrow pass per table through the shared
   payload reader (`sources/payload_scan.py::map_payloads`): decode (real
   codec registry), canonicalize to FP_SR, compute the dominant log-band
   per 512-sample window on a fixed hop, run-length-compress the band
   sequence into note events, and emit one 20-bit key per consecutive
   event TRIPLE: (band0, band1, band2, Δt1, Δt2) with the Δt's in
   quantized hop units. Keys are time-offset-invariant (only Δt's are
   encoded) and anchored at their first event's frame time, so a snippet
   cut at any offset produces the same keys as the matching region of
   its source, shifted by a constant.
2. ``audio_snippet_search`` — broadcast the (small) query landmark table,
   equi-join on key against the corpus landmarks (map-side: the corpus
   table never shuffles), and VOTE: group matches by (query, clip,
   quantized time offset) and score each candidate by its best
   consistent-offset bucket. Random 20-bit collisions scatter across
   offsets; a true containment concentrates at one.

Scale shape: payload bytes stay in the scan stage of the landmark pass;
the landmark table is ~(clip_seconds / note_length) rows of 20 bytes —
three orders smaller than the audio. The search join is broadcast on the
query side, so searching 10^12 corpus landmarks for a batch of snippets
is one scan + a shuffle of only the matched votes. For a standing index,
persist the corpus landmarks bucketed by key.

No reference parity: the reference engine (log-line payloads) has no
audio retrieval; public-knowledge basis is A. Wang, "An Industrial
Strength Audio Search Algorithm" (ISMIR 2003).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .audio_dedup import FP_MIN_RMS, FP_SR, FP_WIN, _band_masks

# Landmark geometry. 48 ms hop ≈ 6-8 windows per note at 250-400 ms notes;
# Δt quantization of 2 hops absorbs the ±1-frame boundary jitter a
# non-grid-aligned cut introduces (voting absorbs the keys it still
# breaks). Δt saturates at 15 quanta = 30 hops ≈ 1.4 s between events.
LM_HOP_MS = 48.0
_DT_CAP = 15


def _event_keys(bands: np.ndarray, times: np.ndarray):
    """(keys, anchors) from a per-frame dominant-band sequence.

    ``bands`` holds -1 for silent frames (skipped; a silence gap just
    lengthens the Δt across it). Events are run-length starts; each
    consecutive event triple packs into a 20-bit key."""
    keep = bands >= 0
    b, t = bands[keep], times[keep]
    if len(b) < 3:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    starts = np.concatenate([[True], b[1:] != b[:-1]])
    eb, et = b[starts], t[starts]
    if len(eb) < 3:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    dt1 = np.minimum((et[1:-1] - et[:-2] + 1) // 2, _DT_CAP)
    dt2 = np.minimum((et[2:] - et[1:-1] + 1) // 2, _DT_CAP)
    keys = (
        (eb[:-2].astype(np.int64) << 16)
        | (eb[1:-1].astype(np.int64) << 12)
        | (eb[2:].astype(np.int64) << 8)
        | (dt1.astype(np.int64) << 4)
        | dt2.astype(np.int64)
    )
    return keys, et[:-2].astype(np.int64)


def _landmark_batch(ids: list, payloads: pa.BinaryArray, codecs: list,
                    hop: int) -> pa.RecordBatch:
    """Landmark kernel for ONE batch of clips (`audio_landmarks`).

    STREAMED per-clip processing in float32. The previous shape (gather
    every row's windows into one batch matrix, then one rfft over all of
    it) is the dedup-kernel pattern, but here clips are long (hundreds of
    frames each) and the batch matrix reached ~100 MB float64 per task —
    at 32 concurrent tasks the job went memory-bandwidth-bound (65-110 s
    for a pass whose compute is ~2 s/task). Per-clip float32 chunks keep
    the working set cache-sized; measured 65 s → single-digit seconds for
    the 5k-clip / 11-hour bench corpus."""
    from ..functions.audio import decode_batch, resample_linear

    masks = _band_masks(FP_SR)
    half = FP_WIN // 2
    win32 = np.hanning(FP_WIN).astype(np.float32)
    offs = np.arange(-half, half)[None, :]
    out = {"id": [], "key": [], "t": [], "fake": []}
    for i, r in enumerate(decode_batch(payloads, codecs)):
        if isinstance(r, Exception):
            continue
        pcm, sr, fake = r
        if pcm is None or len(pcm) == 0 or sr <= 0:
            continue
        pcm = resample_linear(
            np.asarray(pcm, np.float32), int(sr), FP_SR
        ).astype(np.float32)
        if len(pcm) < FP_WIN:
            continue
        centers = np.arange(half, len(pcm) - half + 1, hop)
        nf = len(centers)
        if nf < 3:
            continue
        dom = np.empty(nf, dtype=np.int64)
        for s in range(0, nf, 2048):
            w = pcm[centers[s : s + 2048, None] + offs]
            rms = np.sqrt(np.mean(w * w, axis=1))
            spec = np.abs(np.fft.rfft(w * win32, axis=1)) ** 2
            d = (spec @ masks).argmax(axis=1).astype(np.int64)
            d[rms < FP_MIN_RMS] = -1
            dom[s : s + len(d)] = d
        keys, anchors = _event_keys(dom, np.arange(nf, dtype=np.int64))
        out["id"].extend([ids[i]] * len(keys))
        out["key"].extend(keys.tolist())
        out["t"].extend(anchors.tolist())
        out["fake"].extend([bool(fake)] * len(keys))
    return pa.record_batch(
        [pa.array(out["id"], pa.string()), pa.array(out["key"], pa.int64()),
         pa.array(out["t"], pa.int64()), pa.array(out["fake"], pa.bool_())],
        names=["id", "key", "t", "fake"])


_LM_SCHEMA = "id string, key long, t long, fake boolean"


def audio_landmarks(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    hop_ms: float = LM_HOP_MS,
) -> DataFrame:
    """(id, key, t, fake) — one row per landmark triple. ``t`` is the
    anchor frame index on the ``hop_ms`` grid at FP_SR (offset-invariant
    keys; ``t`` only feeds the vote). Undecodable or all-silent clips
    emit no rows; ``fake`` marks fake-decoder rows (exclude downstream —
    `audio_snippet_search` does by default).

    One kernel over `sources/payload_scan.py::map_payloads`: a bare
    parquet scan is read by the Python-native row-group reader, so the
    socket carries (file, row_group) descriptors in and 20-byte landmark
    rows out; any other frame is fed by the JVM. Both routes hand the
    kernel the same rows (tested)."""
    from ..sources.payload_scan import map_payloads

    hop = int(FP_SR * hop_ms / 1000.0)

    def kernel(rb):
        yield _landmark_batch(rb.column(id_col).cast("string").to_pylist(),
                              rb.column(bytes_col), rb.column(codec_col).to_pylist(), hop)

    return map_payloads(df, [id_col, bytes_col, codec_col], kernel, _LM_SCHEMA)


def audio_snippet_search(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 3,
    min_votes: int = 3,
    hop_ms: float = LM_HOP_MS,
    include_fake: bool = False,
    landmarks: bool = False,
) -> DataFrame:
    """Find corpus clips containing each query snippet.

    ``corpus``/``queries`` are clip tables (clip_id, bytes, codec) — or,
    with ``landmarks=True``, pre-built `audio_landmarks` outputs (build
    the corpus side once and persist it when serving many query batches).
    Returns (query_id, clip_id, votes, offset_s): up to ``top_k`` corpus
    clips per query with at least ``min_votes`` landmark triples agreeing
    on one time offset; ``offset_s`` is where the snippet starts inside
    the matched clip. The query side is broadcast (a query batch is small
    by construction), so the corpus landmark table never shuffles — only
    matched votes do."""
    c_lm = corpus if landmarks else audio_landmarks(corpus, hop_ms=hop_ms)
    q_lm = queries if landmarks else audio_landmarks(queries, hop_ms=hop_ms)
    if not include_fake:
        c_lm = c_lm.filter(~F.col("fake"))
        q_lm = q_lm.filter(~F.col("fake"))
    hop_s = hop_ms / 1000.0

    q = q_lm.select(
        F.col("id").alias("query_id"),
        "key",
        F.col("t").alias("tq"),
    )
    votes = (
        c_lm.join(F.broadcast(q), "key")
        # ±1-hop anchor jitter → quantize the offset by 3 hops; a true
        # containment still concentrates (worst case splits across two
        # adjacent buckets, each far above any random-collision count)
        .select(
            "query_id",
            F.col("id").alias("clip_id"),
            F.floor((F.col("t") - F.col("tq")) / F.lit(3)).alias("off_q"),
            (F.col("t") - F.col("tq")).alias("off"),
        )
        .groupBy("query_id", "clip_id", "off_q")
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.min("off").alias("off_min"),
        )
        .filter(F.col("votes") >= min_votes)
    )
    best = (
        votes.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id", "clip_id")
                .orderBy(F.desc("votes"), F.asc("off_q"))
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return (
        best.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("votes"), F.asc("clip_id"))
            ),
        )
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "clip_id",
            "votes",
            F.round(F.greatest(F.col("off_min") * hop_s, F.lit(0.0)), 3)
            .alias("offset_s"),
            "rank",
        )
    )
