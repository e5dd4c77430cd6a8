"""Structured Streaming mode for the validation checks.

The reference's "streaming" is an asyncio queue drained by a background
task (`src/api/main.py:64-75,142-149`) and in-process deques for windows
(`src/detection/time_aware.py:38-52`, `src/rules/engine.py:54-77` — which
silently uses *arrival* time). Here the same semantics run on Structured
Streaming with explicit event-time + watermarks. The functions below feed
the sinks of the CLI ``stream`` command:

- ``stream_row_violations``: the single-scan row-rule projection applied to
  a streaming DataFrame — stateless, so it runs unchanged on a stream.
- ``stream_payload_violations``: the per-clip payload rules, the batch
  decode kernel run per micro-batch.
- ``stream_duplicate_ids``: windowed clip_id uniqueness (bounded state).
- ``stream_speech_health``: a windowed decode/speech/fake monitor.
- ``stream_vocab_drift``: windowed vocabulary PSI against a batch baseline
  (``vocab_bucket_counts``).

The batch wave runner remains the primary 10^12-row path per north_rule
(batch-at-scale with a resumable ledger); this module is the online mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checks.base import RunContext, ensure_part_id
from ..checks.row_rules import RowRule, violation_projection


def stream_row_violations(stream_df: DataFrame, rules: list[RowRule],
                          ctx: RunContext) -> DataFrame:
    """Stateless row rules on a stream: the exact batch projection
    (checks/row_rules.violation_projection), reused verbatim — Catalyst
    doesn't care that the source is unbounded."""
    rules = [r for r in rules if r.column in stream_df.columns]
    df = ensure_part_id(stream_df, ctx)
    return violation_projection(df, rules, ctx)


def stream_duplicate_ids(
    stream_df: DataFrame,
    id_col: str,
    ts_col: str,
    window: str = "60 seconds",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Online clip_id uniqueness: duplicate ids surfaced as they arrive.

    The batch uniqueness check (checks/uniqueness.py) is the complete
    authority — one hash-partitioned groupBy over the full table. Its
    streaming twin must bound state, so duplicates are detected within an
    event-time window + watermark: groupBy(window, id) keeps state only
    until the watermark passes, and a duplicate pair whose occurrences
    straddle windows is deferred to the batch check (documented bounded-
    state trade-off — NOT a silent miss: the suite always runs the batch
    check over the at-rest table).

    Returns violation-shaped rows (window_start, window_end, <id_col>,
    n_dups) in append mode once the watermark closes a window."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(id_col))
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            id_col,
            "n_dups",
        )
    )


def stream_payload_violations(
    stream_df: DataFrame,
    ctx: RunContext,
    wps_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Per-clip payload violations (R060 decode, R061 duration, R063
    clipping, R064 silence, R065 DC offset, R066 bandwidth) on a STREAM
    of clips.

    Stateless: ``checks.drift.decode_stats`` is an Arrow kernel over
    `sources/payload_scan.py::map_payloads`, which Structured Streaming
    runs unchanged per micro-batch — the exact batch rule code (same
    thresholds, same one-pass decode) emitting the sparse violation rows
    only: the per-clip level of the batch drift check.

    ``wps_range`` switches on the R067 speech-rate twin when the stream
    rows carry a ``transcript`` column inline (the input-table shape):
    the same thresholds as the batch rule (drift_check), evaluated against
    the row's OWN transcript inside the same one-decode kernel — no
    stream-stream join. Semantics note vs batch: the batch rule joins the
    normalized transcripts table (a clip with no transcript row is the
    referential check's finding); inline, a NULL transcript counts as
    zero words, so a speechy clip with a NULL transcript flags here.
    Duplicate clip_ids inside one micro-batch evaluate against one
    measured speech time (duplicate ids are the dup-id check's finding).
    """
    from ..checks.drift import (
        _STATS_SCHEMA,
        MIN_SPEECH_SLOW_S,
        MIN_WORDS_FAST,
        R_SPEECH_RATE,
        decode_stats,
        stats_record_batch,
    )
    from ..sources.payload_scan import PAYLOAD_COLS, map_payloads

    if wps_range is None or "transcript" not in stream_df.columns:
        stats = decode_stats(stream_df, ctx)
    else:
        part_col = ctx.part_col
        min_wps, max_wps = wps_range

        def kernel(batch):
            import pyarrow as pa

            rb = stats_record_batch(batch, part_col, speech=True)
            yield rb
            kinds = rb.column("kind").to_pylist()
            sids = rb.column("clip_id").to_pylist()
            cnts = rb.column("cnt").to_pylist()
            speech_ms = {sids[i]: cnts[i]
                         for i in range(len(kinds)) if kinds[i] == "s"}
            out: list[tuple] = []
            for cid, part, txt in zip(batch.column("clip_id").to_pylist(),
                                      batch.column(part_col).to_pylist(),
                                      batch.column("transcript").to_pylist()):
                ms = speech_ms.get(cid)
                if ms is None:  # undecodable/fake: not evaluated
                    continue
                words = len(txt.split()) if txt else 0
                s = ms / 1000.0
                fast = words >= MIN_WORDS_FAST and words > s * max_wps
                slow = s >= MIN_SPEECH_SLOW_S and words < s * min_wps
                if fast or slow:
                    out.append((int(part), cid,
                                f"words={words} speech_s={round(s, 2)}"))
            yield pa.record_batch(
                [
                    pa.array(["v"] * len(out), type=pa.string()),
                    pa.array([p for p, _, _ in out], type=pa.int32()),
                    pa.array([R_SPEECH_RATE] * len(out), type=pa.string()),
                    pa.array([None] * len(out), type=pa.int32()),
                    pa.array([None] * len(out), type=pa.int64()),
                    pa.array([c for _, c, _ in out], type=pa.string()),
                    pa.array([o for _, _, o in out], type=pa.string()),
                    pa.array(
                        [f"{min_wps} <= words/speech_s <= {max_wps}"] * len(out),
                        type=pa.string()),
                ],
                names=["kind", "part_id", "feature", "bin", "cnt",
                       "clip_id", "observed", "expected"],
            )

        stats = map_payloads(stream_df, [*PAYLOAD_COLS, "transcript"], kernel,
                             _STATS_SCHEMA, ctx)

    return (
        stats
        .filter(F.col("kind") == "v")
        .select(
            F.col("part_id"),
            F.col("feature").alias("rule_id"),
            "clip_id",
            "observed",
            "expected",
        )
    )


def stream_speech_health(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "60 seconds",
    watermark: str = "2 minutes",
    min_speech_ratio: float = 0.3,
    with_pitch: bool = False,
) -> DataFrame:
    """Windowed speech-health monitor on a clip stream: is a feed going
    silent, undecodable, or fake-routed? The per-clip kernel is
    `audio_curate.audio_profile` — the SAME one-decode pass the batch
    curation capstone runs, unchanged per micro-batch (a stateless Arrow
    kernel over `map_payloads`; Structured Streaming only adds the window/watermark agg
    on the thin profile rows, never on payloads). Append-mode compatible.

    Emits per (window): n_clips, n_undecodable, n_fake, n_low_speech,
    n_speech_ok, mean_speech_ratio (over honestly-decoded clips), and
    speech_s_total — the numbers an ingest operator alerts on.
    ``with_pitch=True`` opts into the pitch profile's extra FFT and adds
    ``n_flat_pitch``: clips voiced with a near-constant F0 track (tones /
    line hum a feed starts emitting read as speech to the energy VAD —
    the batch flat-pitch gate's online early warning; the column is 0
    when disabled). The batch authority for anything deeper (dedup,
    curation keep/drop) remains `curate_audio_corpus`; this twin
    deliberately carries NO cross-window state (same deferral contract
    as stream_duplicate_ids)."""
    from ..operators.audio_curate import _flat_pitch, audio_profile

    prof = audio_profile(stream_df, passthrough=(ts_col,),
                         with_pitch=with_pitch)
    real = F.col("decode_ok") & ~F.col("fake")
    low = real & (F.col("speech_ratio") < min_speech_ratio)
    return (
        prof.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum((~F.col("decode_ok")).cast("long")).alias("n_undecodable"),
            F.sum(F.col("fake").cast("long")).alias("n_fake"),
            F.sum(low.cast("long")).alias("n_low_speech"),
            F.sum((real & ~low).cast("long")).alias("n_speech_ok"),
            F.sum((real & _flat_pitch(0.8, 5.0)).cast("long"))
            .alias("n_flat_pitch"),
            F.round(
                F.avg(F.when(real, F.col("speech_ratio"))), 4
            ).alias("mean_speech_ratio"),
            F.round(
                F.sum(F.when(real, F.col("speech_s")).otherwise(F.lit(0.0))), 3
            ).alias("speech_s_total"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_clips", "n_undecodable", "n_fake", "n_low_speech",
            "n_speech_ok", "n_flat_pitch", "mean_speech_ratio",
            "speech_s_total",
        )
    )


def vocab_bucket_counts(df: DataFrame, text_col: str = "transcript",
                        n_buckets: int = 64) -> list[int]:
    """Batch-side baseline for ``stream_vocab_drift``: the corpus' hashed
    token-bucket histogram as a plain list (n_buckets longs — kilobytes,
    broadcast as a literal into the streaming plan). Same md5 bucketing
    as operators/textstats.py::vocab_psi."""
    from ..operators.dedup import tokens

    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets))
    rows = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    out = [0] * n_buckets
    for r in rows:
        out[int(r["bucket"])] = int(r["c"])
    return out


def stream_vocab_drift(
    stream_df: DataFrame,
    baseline: list[int],
    ts_col: str = "ts",
    text_col: str = "transcript",
    window: str = "60 seconds",
    watermark: str = "2 minutes",
    psi_threshold: float = 0.2,
    smooth: float = 0.5,
) -> DataFrame:
    """Windowed VOCABULARY drift on a transcript stream: per closed
    window, PSI of the window's hashed-token distribution against a
    stored batch baseline (``vocab_bucket_counts``) — the online twin of
    ``textstats.vocab_psi``, catching a feed that switches domain or
    language mid-stream.

    One stateful aggregation (append-mode compatible): the per-window
    histogram is built as n_buckets conditional sums inside a single
    groupBy(window) — no chained streaming aggregations — then PSI is a
    stateless fold over the two fixed-width arrays (zip_with +
    aggregate, all JVM). Emits (window_start, window_end, n_tokens,
    vocab_psi, passed) with rule id R091."""
    from ..operators.dedup import tokens

    n_buckets = len(baseline)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets))
    toks = (
        stream_df.withWatermark(ts_col, watermark)
        .select(ts_col, F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .select(ts_col, bucket.alias("bucket"))
    )
    hist = (
        toks.groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array(*[
                F.sum(F.when(F.col("bucket") == b, 1).otherwise(0))
                for b in range(n_buckets)
            ]).alias("counts"),
        )
    )
    tot_b = float(sum(baseline))
    q_arr = F.array(*[
        F.lit((baseline[b] + smooth) / (tot_b + smooth * n_buckets))
        for b in range(n_buckets)
    ])
    p_arr = F.transform(
        F.col("counts"),
        lambda c: (c + F.lit(smooth))
        / (F.col("n_tokens") + F.lit(smooth * n_buckets)))
    terms = F.zip_with(p_arr, q_arr, lambda p, q: (p - q) * F.log(p / q))
    psi = F.round(
        F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), 6)
    return hist.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n_tokens",
        psi.alias("vocab_psi"),
        F.lit("R091").alias("rule_id"),
        (psi <= F.lit(psi_threshold)).alias("passed"),
    )
