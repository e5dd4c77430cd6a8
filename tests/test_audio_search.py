"""Audio snippet search: planted snippets must retrieve their source clip
(top-1) at the right offset; out-of-corpus snippets must return nothing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_log_detector_spark.functions.audio import decode_clip, encode_wav
from semantic_log_detector_spark.functions.g711 import encode_mulaw
from semantic_log_detector_spark.operators.audio_search import (
    _event_keys,
    audio_landmarks,
    audio_snippet_search,
)
from semantic_log_detector_spark.sources.synth import melody_clips

N_CORPUS = 120


@pytest.fixture(scope="module")
def corpus(spark):
    df = melody_clips(spark, N_CORPUS, seed=3).cache()
    df.count()
    yield df
    df.unpersist()


def _cut_snippet(src_bytes, src_codec, start_s, dur_s, out_codec="mulaw",
                 out_sr=8000):
    """Cut [start_s, start_s+dur_s) from a decoded clip, resample, and
    re-encode — a snippet that shares no bytes with its source."""
    from semantic_log_detector_spark.functions.audio import resample_linear

    pcm, sr = decode_clip(bytes(src_bytes), src_codec)
    s0 = int(start_s * sr)
    s1 = int((start_s + dur_s) * sr)
    piece = resample_linear(pcm[s0:s1], sr, out_sr)
    enc = {"mulaw": encode_mulaw, "pcm_s16le": encode_wav}[out_codec]
    return enc(piece.astype(np.float32), out_sr)


def test_snippets_retrieve_source_at_offset(spark, corpus):
    rows = corpus.filter(F.col("idx").isin(list(range(0, 40, 4)))).collect()
    queries = []
    truth = {}
    for j, r in enumerate(rows):
        # non-grid-aligned offsets: 0.73 s steps + a 17 ms phase
        start = 0.017 + 0.73 * (j % 7)
        qid = f"q{j:03d}"
        queries.append((qid, _cut_snippet(r["bytes"], r["codec"], start, 3.0),
                        "mulaw"))
        truth[qid] = (r["clip_id"], start)
    qdf = spark.createDataFrame(queries, "clip_id string, bytes binary, codec string")

    hits = audio_snippet_search(corpus, qdf).toPandas()
    top1 = hits[hits["rank"] == 1].set_index("query_id")
    assert set(top1.index) == set(truth), "every query must match"
    for qid, (want_clip, want_off) in truth.items():
        assert top1.loc[qid, "clip_id"] == want_clip, qid
        assert abs(top1.loc[qid, "offset_s"] - want_off) <= 0.2, (
            qid, top1.loc[qid, "offset_s"], want_off)
        # and the match is unambiguous: no second clip anywhere near it
        others = hits[(hits["query_id"] == qid) & (hits["clip_id"] != want_clip)]
        if len(others):
            assert (others["votes"] < top1.loc[qid, "votes"] / 2).all(), qid


def test_out_of_corpus_snippet_returns_nothing(spark, corpus):
    foreign = melody_clips(spark, 4, seed=999).collect()
    queries = [
        (f"neg{j}", _cut_snippet(r["bytes"], r["codec"], 1.0, 3.0), "mulaw")
        for j, r in enumerate(foreign)
    ]
    qdf = spark.createDataFrame(queries, "clip_id string, bytes binary, codec string")
    hits = audio_snippet_search(corpus, qdf, min_votes=3).toPandas()
    assert len(hits) == 0, hits


def test_prebuilt_landmarks_path(spark, corpus):
    # serving shape: corpus landmarks built once, reused per query batch
    c_lm = audio_landmarks(corpus).cache()
    r = corpus.filter(F.col("idx") == 8).collect()[0]
    q = spark.createDataFrame(
        [("q0", _cut_snippet(r["bytes"], r["codec"], 2.5, 3.0), "mulaw")],
        "clip_id string, bytes binary, codec string",
    )
    q_lm = audio_landmarks(q)
    hits = audio_snippet_search(c_lm, q_lm, landmarks=True).toPandas()
    assert hits[hits["rank"] == 1]["clip_id"].iloc[0] == r["clip_id"]
    c_lm.unpersist()


def test_search_plan_broadcasts_query_side(spark, corpus):
    q = corpus.limit(1)
    plan = audio_snippet_search(corpus, q)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_event_keys_kernel():
    # bands 2,2,2,5,5,9,9,9 → events (2@0, 5@3, 9@5) → one triple
    bands = np.array([2, 2, 2, 5, 5, 9, 9, 9])
    keys, anchors = _event_keys(bands, np.arange(8))
    assert len(keys) == 1 and anchors[0] == 0
    k = int(keys[0])
    assert (k >> 16) & 0xF == 2 and (k >> 12) & 0xF == 5 and (k >> 8) & 0xF == 9
    # silence (-1) frames are skipped; gap inflates Δt but keys still form
    bands2 = np.array([2, 2, -1, -1, 5, 5, 9, 9])
    keys2, _ = _event_keys(bands2, np.arange(8))
    assert len(keys2) == 1
    # too few events → no keys
    assert len(_event_keys(np.array([3, 3, 3]), np.arange(3))[0]) == 0


def test_empty_parquet_table_yields_no_landmarks(spark, tmp_path):
    """An empty table on the row-group reader route: no row group to
    scan, an empty result (not a ZeroDivisionError from parallelize)."""
    path = str(tmp_path / "empty")
    melody_clips(spark, 4, seed=1).select("clip_id", "bytes", "codec") \
        .limit(0).write.parquet(path)
    lm = audio_landmarks(spark.read.parquet(path))
    assert lm.columns == ["id", "key", "t", "fake"]
    assert lm.count() == 0
