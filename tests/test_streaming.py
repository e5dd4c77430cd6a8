"""Structured Streaming mode: the sinks of the CLI ``stream`` command
(row and payload rules, windowed duplicate ids, speech health, vocabulary
drift) and an operator that runs unchanged on a stream."""

import pyspark.sql.functions as F


def test_stream_row_violations_match_batch(spark, tmp_path):
    """The row rules on a stream emit exactly the batch check's violation
    rows: the projection is the batch one, run per micro-batch."""
    from semantic_log_detector_spark.checks.base import RunContext
    from semantic_log_detector_spark.checks.row_rules import (
        default_clip_rules,
        run_row_rules,
    )
    from semantic_log_detector_spark.sources.synth import clips_table
    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_row_violations,
    )

    ctx = RunContext(run_id="s")
    src = str(tmp_path / "src")
    clips_table(spark, 1000, with_bytes=False).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_row_violations(stream, default_clip_rules(), ctx)
        .writeStream.format("memory").queryName("row_viol")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from row_viol")
    batch = run_row_rules(spark.read.parquet(src), default_clip_rules(), ctx).violations
    assert batch.count() > 0
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stream_duplicate_ids_append_mode(spark, tmp_path):
    """The PRODUCTION contract: append mode, where a window only emits
    once the watermark closes it. Three files processed as three
    micro-batches (maxFilesPerTrigger=1, mtime-ordered); the sentinel
    events advance the watermark past the duplicate window."""
    import glob
    import os

    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_duplicate_ids,
    )

    src = str(tmp_path / "dup_src")

    def write_batch(rows, mtime):
        before = set(glob.glob(f"{src}/*.parquet"))
        spark.createDataFrame(rows, ["clip_id", "ts_s"]).select(
            "clip_id", F.to_timestamp("ts_s").alias("ts")
        ).repartition(1).write.mode("append").parquet(src)
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    # clip X arrives 3x inside one window, Y once, Z twice across windows
    write_batch(
        [
            ("X", "2024-01-01 00:00:01"),
            ("X", "2024-01-01 00:00:20"),
            ("X", "2024-01-01 00:00:40"),
            ("Y", "2024-01-01 00:00:30"),
            ("Z", "2024-01-01 00:00:59"),
            ("Z", "2024-01-01 00:01:10"),  # next window: deferred to batch check
        ],
        1_000_000,
    )
    # sentinels: batch 2 lifts the watermark to 00:20, batch 3 triggers the
    # emission of every window that 00:20 closes
    write_batch([("WM1", "2024-01-01 00:30:00")], 2_000_000)
    write_batch([("WM2", "2024-01-01 01:00:00")], 3_000_000)

    stream = (
        spark.readStream.schema("clip_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dups = stream_duplicate_ids(stream, "clip_id", "ts", "60 seconds", "10 minutes")
    q = (
        dups.writeStream.format("memory")
        .queryName("dups_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["clip_id"]: r["n_dups"]
        for r in spark.sql("select * from dups_append").collect()
    }
    assert got == {"X": 3}


def test_stream_payload_violations(spark, tmp_path):
    """The per-clip payload rules (decode/quality) run unchanged on a
    stream: planted clipped / silent / truncated payloads in a file
    stream emit exactly their R-rule violation rows, clean clips none."""
    import numpy as np
    import pandas as pd

    from semantic_log_detector_spark.checks.base import RunContext
    from semantic_log_detector_spark.functions.audio import encode_wav
    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_payload_violations,
    )

    sr = 8000
    t = np.arange(sr // 2) / sr
    # broadband noise keeps the clean clip genuinely full-band — a PURE
    # tone declared at 8 kHz is narrowband and R066 would (correctly) flag
    # it; this test pins the per-clip R060/R063/R064 semantics instead
    rng = np.random.default_rng(0)
    tone = (0.5 * np.sin(2 * np.pi * 440 * t)
            + 0.03 * rng.standard_normal(len(t))).astype(np.float32)
    rows = [
        ("ok1", 0, encode_wav(tone, sr), "pcm_s16le", sr, 500),
        ("clip1", 0, encode_wav(tone * 4.0, sr), "pcm_s16le", sr, 500),
        ("sil1", 1, encode_wav(tone * 0.0005, sr), "pcm_s16le", sr, 500),
        ("bad1", 1, b"corrupt", "pcm_s16le", sr, 500),
    ]
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "part_id", "bytes", "codec", "sr_hz", "dur_ms"]
    )
    src = str(tmp_path / "pv_src")
    spark.createDataFrame(pdf.astype({"part_id": "int32", "sr_hz": "int32",
                                      "dur_ms": "int32"})) \
        .repartition(1).write.parquet(src)

    stream = spark.readStream.schema(
        "clip_id string, part_id int, bytes binary, codec string,"
        " sr_hz int, dur_ms int"
    ).parquet(src)
    out = stream_payload_violations(stream, RunContext(run_id="s", num_parts=4))
    q = (
        out.writeStream.format("memory").queryName("pv")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["clip_id"], r["rule_id"])
           for r in spark.sql("SELECT * FROM pv").collect()}
    assert got == {
        ("clip1", "R063_clipping"),
        ("sil1", "R064_silence"),
        ("bad1", "R060_decode"),
    }


def test_stream_speech_health(spark, tmp_path):
    """Windowed speech-health monitor: one micro-batch of planted clips
    (full-speech, low-speech, fake-codec, undecodable) emits exactly one
    closed window with the exact per-bucket counts once sentinel batches
    advance the watermark."""
    import glob
    import os

    import numpy as np

    from semantic_log_detector_spark.functions.audio import encode_wav
    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_speech_health,
    )

    sr = 16000
    tone = (0.5 * np.sin(2 * np.pi * 500 * np.arange(sr) / sr)).astype(np.float32)
    low = np.zeros(2 * sr, dtype=np.float32)
    low[: sr // 5] = tone[: sr // 5]  # 0.2 s of speech in 2 s => ratio 0.1
    rows = [
        ("ok1", "pcm_s16le", encode_wav(tone, sr)),
        ("ok2", "pcm_s16le", encode_wav(tone, sr)),
        ("ok3", "pcm_s16le", encode_wav(tone, sr)),
        ("low1", "pcm_s16le", encode_wav(low, sr)),
        ("fake1", "opus", encode_wav(tone, sr)),
        ("bad1", "pcm_s16le", b"corrupt"),
    ]
    src = str(tmp_path / "health_src")

    def write_batch(df, mtime):
        before = set(glob.glob(f"{src}/*.parquet"))
        df.repartition(1).write.mode("append").parquet(src)
        for f in set(glob.glob(f"{src}/*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    main = spark.createDataFrame(
        rows, "clip_id string, codec string, bytes binary"
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:30")))
    write_batch(main, 1_000_000)
    for i, (ts, mtime) in enumerate(
        [("2026-01-01 00:30:00", 2_000_000), ("2026-01-01 01:00:00", 3_000_000)]
    ):
        write_batch(
            spark.createDataFrame(
                [(f"s{i}", "pcm_s16le", rows[0][2])],
                "clip_id string, codec string, bytes binary",
            ).withColumn("ts", F.to_timestamp(F.lit(ts))),
            mtime,
        )

    stream = (
        spark.readStream.schema(
            "clip_id string, codec string, bytes binary, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_speech_health(stream, ts_col="ts", window="60 seconds",
                               min_speech_ratio=0.3)
    q = (
        out.writeStream.format("memory").queryName("health")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT * FROM health WHERE window_start = '2026-01-01 00:00:00'"
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_clips == 6
    assert r.n_undecodable == 1
    assert r.n_fake == 1
    assert r.n_low_speech == 1
    assert r.n_speech_ok == 3
    # mean over the 4 honestly-decoded clips: (3 x ~1.0 + 0.1) / 4
    assert 0.7 < r.mean_speech_ratio < 0.85
    assert 3.0 < r.speech_s_total < 3.5
    assert r.n_flat_pitch == 0  # pitch is opt-in; disabled -> 0

    # with_pitch=True: the three wall-to-wall 500 Hz tones are flat-pitch
    # contamination (voiced, IQR ~ 0); the fake tone is excluded (real
    # decodes only — fake already has its own bucket), low1 is unvoiced
    # for 90% of its frames
    out_p = stream_speech_health(
        spark.readStream.schema(
            "clip_id string, codec string, bytes binary, ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(src),
        ts_col="ts", window="60 seconds", min_speech_ratio=0.3,
        with_pitch=True,
    )
    qp = (
        out_p.writeStream.format("memory").queryName("health_pitch")
        .outputMode("append").trigger(availableNow=True).start()
    )
    qp.awaitTermination(300)
    rp = spark.sql(
        "SELECT * FROM health_pitch WHERE window_start = '2026-01-01 00:00:00'"
    ).collect()[0]
    assert rp.n_flat_pitch == 3


def test_stream_cut_segments(spark, tmp_path):
    """Utterance extraction runs unchanged on a stream: the cut_segments
    kernel is a stateless mapInPandas, so Structured Streaming applies the
    exact batch code per micro-batch — online ingest cuts recordings into
    utterances with the same accounting rows (EXACTLY the batch semantics,
    including ok=false reasons)."""
    import numpy as np
    import pandas as pd

    from semantic_log_detector_spark.functions.audio import encode_wav
    from semantic_log_detector_spark.operators.segment import cut_segments

    sr = 16000
    t3 = np.arange(3 * sr) / sr
    two_bursts = np.zeros(3 * sr, np.float32)
    for (a, b) in ((0.2, 0.8), (1.6, 2.4)):
        seg = slice(int(a * sr), int(b * sr))
        two_bursts[seg] = 0.4 * np.sin(2 * np.pi * 300 * t3[seg]).astype(np.float32)
    rows = [
        ("rec1", encode_wav(two_bursts, sr), "pcm_s16le"),
        ("dead", b"junk", "pcm_s16le"),
    ]
    pdf = pd.DataFrame(rows, columns=["clip_id", "bytes", "codec"])
    src = str(tmp_path / "cut_src")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "clip_id string, bytes binary, codec string"
    ).parquet(src)
    out = cut_segments(stream, pad_ms=0.0)
    q = (
        out.writeStream.format("memory").queryName("cut_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from cut_stream").collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["src_clip_id"], []).append(r)
    assert len(by_src["rec1"]) == 2 and all(r["ok"] for r in by_src["rec1"])
    assert len(by_src["dead"]) == 1 and not by_src["dead"][0]["ok"]


def test_stream_speech_rate_twin(spark, tmp_path):
    """R067 on a stream: the same thresholds as the batch rule, evaluated
    against the row's inline transcript in the one-decode kernel. Planted
    wordy-over-silence and empty-under-speech rows flag; the plausible
    pair and the fake codec do not."""
    import numpy as np
    import pandas as pd

    from semantic_log_detector_spark.checks.base import RunContext
    from semantic_log_detector_spark.checks.drift import R_SPEECH_RATE
    from semantic_log_detector_spark.functions.audio import encode_wav
    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_payload_violations,
    )

    sr = 16000
    t = np.arange(3 * sr) / sr
    rng = np.random.default_rng(1)
    tone = (0.3 * np.sin(2 * np.pi * 440 * t)
            + 0.02 * rng.standard_normal(len(t))).astype(np.float32)
    silence = np.zeros(5 * sr, dtype=np.float32)
    rows = [
        ("ok", encode_wav(tone, sr), "pcm_s16le", "ten words " * 5),
        ("fast", encode_wav(tone, sr), "pcm_s16le", "w " * 60),
        ("sil_txt", encode_wav(silence, sr), "pcm_s16le", "w " * 20),
        ("empty_txt", encode_wav(tone, sr), "pcm_s16le", None),
        ("fake", b"\x00" * 300, "opus", "w " * 60),
    ]
    pdf = pd.DataFrame(rows, columns=["clip_id", "bytes", "codec", "transcript"])
    pdf["sr_hz"] = np.int32(sr)
    pdf["dur_ms"] = pd.array([None] * len(pdf), dtype="Int32")
    src = str(tmp_path / "sr_src")
    spark.createDataFrame(pdf).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(
        "clip_id string, bytes binary, codec string, transcript string,"
        " sr_hz int, dur_ms int"
    ).parquet(src)
    out = stream_payload_violations(
        stream, RunContext(run_id="s", num_parts=4), wps_range=(0.4, 8.0))
    q = (
        out.writeStream.format("memory").queryName("sr_twin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["clip_id"] for r in spark.sql(
        f"select * from sr_twin where rule_id = '{R_SPEECH_RATE}'").collect()}
    assert got == {"fast", "sil_txt", "empty_txt"}
    # the non-speech rules still flow from the same kernel
    other = spark.sql(
        f"select * from sr_twin where rule_id != '{R_SPEECH_RATE}'")
    assert other.filter("clip_id = 'sil_txt' and rule_id = 'R064_silence'").count() == 1


def test_stream_vocab_drift(spark, tmp_path):
    from semantic_log_detector_spark.streaming.stream_checks import (
        stream_vocab_drift,
        vocab_bucket_counts,
    )

    common = "the quick brown fox jumps over the lazy dog near the river"
    shifted = "quantum flux capacitor entangles superconducting qubit arrays"
    # baseline corpus speaks `common`
    base = spark.createDataFrame(
        [(f"b{i}", common) for i in range(50)], "clip_id string, transcript string")
    baseline = vocab_bucket_counts(base, n_buckets=32)
    assert len(baseline) == 32 and sum(baseline) == 50 * 12

    # stream: minute 0 speaks the baseline language, minute 1 drifts
    rows = [(f"s{i}", common, f"2024-01-01 00:00:{i:02d}") for i in range(20)] + [
        (f"d{i}", shifted, f"2024-01-01 00:01:{i:02d}") for i in range(20)
    ]
    src = str(tmp_path / "vd")
    spark.createDataFrame(rows, ["clip_id", "transcript", "ts_s"]).select(
        "clip_id", "transcript", F.to_timestamp("ts_s").alias("ts")
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "clip_id string, transcript string, ts timestamp").parquet(src)
    out = stream_vocab_drift(stream, baseline, "ts", "transcript",
                             "60 seconds", "2 minutes", psi_threshold=0.2)
    q = (out.writeStream.format("memory").queryName("vdrift")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window_start"].minute: r for r in spark.sql("select * from vdrift").collect()}
    assert set(got) == {0, 1}
    # same-language window: tiny PSI (smoothing noise only); drifted: large
    assert got[0]["passed"] and got[0]["vocab_psi"] < 0.05
    assert not got[1]["passed"] and got[1]["vocab_psi"] > 1.0
    assert got[1]["rule_id"] == "R091"
    assert got[0]["n_tokens"] == 20 * 12 and got[1]["n_tokens"] == 20 * 7
