"""The one payload reader: xxhash64 parity, identical rows from the
row-group and JVM-fed routes for every payload pass, wave-resume
filtering, suite verdict equivalence, and the route decision taken from
the input frame itself."""

import pyspark.sql.functions as F
import pytest

from semantic_log_detector_spark.checks.base import RunContext
from semantic_log_detector_spark.checks.drift import decode_stats
from semantic_log_detector_spark.functions.sparkhash import part_id, xxhash64
from semantic_log_detector_spark.operators.audio_dedup import audio_fingerprint
from semantic_log_detector_spark.operators.audio_search import audio_landmarks
from semantic_log_detector_spark.plans.runner import SuiteConfig, run_suite
from semantic_log_detector_spark.sources import payload_scan
from semantic_log_detector_spark.sources.payload_scan import (
    PAYLOAD_COLS,
    bare_scan_files,
    list_row_groups,
    stored_part_ids_match,
)

CTX16 = RunContext(run_id="t", num_parts=16)


def test_xxhash64_parity(spark):
    ids = ["clip_000001", "", "a", "ab", "abc", "abcd", "abcdefgh",
           "0123456789abcdef0123456789abcdefXYZ", "日本語テキスト",
           "x" * 31, "y" * 32, "z" * 33, "w" * 100]
    rows = (
        spark.createDataFrame([(s,) for s in ids], ["s"])
        .select("s", F.xxhash64("s").alias("h"),
                F.pmod(F.xxhash64("s"), F.lit(64)).alias("p"))
        .collect()
    )
    for r in rows:
        assert xxhash64(r["s"].encode("utf-8")) == r["h"], r["s"]
        assert part_id(r["s"], 64) == r["p"], r["s"]


@pytest.fixture(scope="module")
def clips_parquet(spark, clips_2k, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pscan") / "clips")
    clips_2k.write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def clips_files(spark, clips_parquet):
    return bare_scan_files(spark.read.parquet(clips_parquet), PAYLOAD_COLS)


def _rows(spark, out, kind, cols=None):
    """Sorted rows of ``out``'s verdicts/violations, minus run_id."""
    df = spark.read.parquet(f"{out}/{kind}").drop("run_id")
    return sorted(map(tuple, (df.select(*cols) if cols else df).collect()), key=repr)


def _agg(df):
    """Canonical comparable form: merge partials (batch boundaries differ
    between the two readers), keep violations as-is."""
    hist = (
        df.filter("kind = 'h'")
        .groupBy("part_id", "feature", "bin").agg(F.sum("cnt").alias("cnt"))
    )
    counts = (
        df.filter("kind = 'c'").groupBy("part_id").agg(F.sum("cnt").alias("cnt"))
    )
    viols = df.filter("kind = 'v'").select(
        "part_id", "feature", "clip_id", "observed", "expected")
    return hist, counts, viols


def _same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_scan_matches_decode_stats(spark, clips_parquet, payload_scan_calls):
    scan = spark.read.parquet(clips_parquet)
    py = decode_stats(scan, CTX16)
    jvm = decode_stats(scan.repartition(3), CTX16)
    assert len(payload_scan_calls) == 1  # the bare scan only
    for a, b in zip(_agg(jvm), _agg(py)):
        _same(a, b)


def test_scan_pending_parts_filter(spark, clips_parquet, payload_scan_calls):
    pend = [0, 3, 7]
    scan = spark.read.parquet(clips_parquet)
    py = decode_stats(scan, CTX16, pending_parts=pend)
    got = {r["part_id"] for r in py.select("part_id").distinct().collect()}
    assert got <= set(pend)
    # and the kept slice matches the JVM route filtered the same way
    jvm = decode_stats(scan.repartition(3), CTX16, pending_parts=pend)
    assert len(payload_scan_calls) == 1
    for a, b in zip(_agg(jvm), _agg(py)):
        _same(a, b)


@pytest.fixture(scope="module")
def small_parquet(spark, tmp_path_factory):
    """300 clips in several files, with an event-time column."""
    from semantic_log_detector_spark.sources.synth import clips_table

    path = str(tmp_path_factory.mktemp("pscan_small") / "clips")
    (clips_table(spark, 300, num_parts=16, drift_parts=(7,), with_bytes=True)
     .withColumn("ts", F.timestamp_seconds("idx")).repartition(3)
     .write.parquet(path))
    return path


@pytest.mark.parametrize("pass_", ["drift", "fingerprints", "landmarks"])
def test_payload_pass_rows_identical_on_both_routes(spark, small_parquet, pass_,
                                                    payload_scan_calls):
    """Every payload pass gives the same rows over a bare scan (the
    row-group reader) and over ``.repartition(3)`` of it (the JVM feed).
    Drift's histogram partials are merged first: batch boundaries differ
    between the routes."""
    run = {
        "drift": lambda df: decode_stats(df, CTX16, speech=True),
        "fingerprints": lambda df: audio_fingerprint(df, passthrough=("ts",)),
        "landmarks": audio_landmarks,
    }[pass_]
    scan = spark.read.parquet(small_parquet)
    py, jvm = run(scan), run(scan.repartition(3))
    assert len(payload_scan_calls) == 1
    if pass_ == "drift":
        speech = [df.filter("kind = 's'").select("part_id", "clip_id", "cnt")
                  for df in (jvm, py)]
        for a, b in [*zip(_agg(jvm), _agg(py)), speech]:
            _same(a, b)
        return
    rows = [sorted(map(tuple, df.collect()), key=repr) for df in (jvm, py)]
    assert rows[0] and rows[0] == rows[1]


def test_suite_verdicts_identical_with_payload_scan(spark, clips_2k, clips_parquet,
                                                    tmp_path, payload_scan_calls):
    """The bare scan takes the payload route, a repartitioned (non-bare)
    frame of it the JVM-fed decode; verdicts are the same."""
    transcripts = clips_2k.select(F.col("clip_id"), F.col("transcript"))
    cfg = SuiteConfig(num_parts=16, checks=("drift",))
    scan = spark.read.parquet(clips_parquet)
    outs = []
    for tag, clips in (("general", scan.repartition(2)), ("pyscan", scan)):
        out = str(tmp_path / tag)
        run_suite(spark, clips, transcripts, out, cfg, input_fingerprint=tag)
        outs.append(_rows(spark, out, "verdicts",
                          ["part_id", "rule_id", "passed", "n_rows", "n_violations"]))
        assert len(payload_scan_calls) == (tag == "pyscan")
    assert outs[0] == outs[1]


def test_list_row_groups(clips_files):
    groups = list_row_groups(clips_files)
    assert len(groups) >= 1
    assert all(g >= 0 and f.endswith(".parquet") for f, g in groups)


def test_bare_scan_files_nested_layout(spark, clips_files, tmp_path):
    """Hive-style key=value subdirectories are walked, not ignored: the
    frame over them is still a bare scan of every file."""
    import shutil

    nested = tmp_path / "nested"
    for d in ("day=1", "day=2"):
        (nested / d).mkdir(parents=True)
        shutil.copy(clips_files[0], nested / d / "part-0.parquet")
    files = bare_scan_files(spark.read.parquet(str(nested)), PAYLOAD_COLS)
    assert [f.split("/")[-2] for f in files] == ["day=1", "day=2"]
    groups = list_row_groups(files)
    assert len(groups) == 2 * len(list_row_groups(clips_files[:1]))


def test_bare_scan_files_escaped_table_path(spark, clips_files, tmp_path):
    """inputFiles() gives URIs: a space and a '%' in the table directory
    arrive percent-escaped and must come back as the real local paths."""
    import os
    import shutil

    table = tmp_path / "my clips 100%"
    table.mkdir()
    shutil.copy(clips_files[0], table / "part-0.parquet")
    files = bare_scan_files(spark.read.parquet(str(table)), PAYLOAD_COLS)
    assert files == [str(table / "part-0.parquet")]
    assert os.path.isfile(files[0])


def test_list_row_groups_distributed_listing(spark, clips_files, monkeypatch):
    serial = list_row_groups(clips_files)
    monkeypatch.setattr(payload_scan, "_DISTRIBUTED_LISTING_THRESHOLD", 0)
    distributed = payload_scan.list_row_groups(clips_files, spark)
    assert distributed == serial


def test_stored_part_id_guard(spark, clips_parquet, clips_files, tmp_path,
                              payload_scan_calls):
    """The stored part_id is sampled only when the frame carries it (only
    then does ensure_part_id trust it). A table whose part_id was computed
    at another num_parts keeps drift on the JVM-fed decode, with the
    verdicts of that route."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # clips_2k stores part_id at P=16
    assert stored_part_ids_match(clips_files, CTX16)
    assert not stored_part_ids_match(clips_files, RunContext(run_id="t", num_parts=64))
    # no stored column to trust → no payload route
    bare = tmp_path / "no_part"
    bare.mkdir()
    pq.write_table(pq.read_table(clips_files[0]).drop(["part_id"]), bare / "f.parquet")
    assert not stored_part_ids_match([str(bare / "f.parquet")], CTX16)
    # schema missing payload columns → not routed
    thin = tmp_path / "thin"
    thin.mkdir()
    pq.write_table(pa.table({"clip_id": ["a"]}), thin / "f.parquet")
    assert bare_scan_files(spark.read.parquet(str(thin)), PAYLOAD_COLS) is None

    cfg = SuiteConfig(num_parts=64, checks=("drift",))
    scan = spark.read.parquet(clips_parquet)
    outs = []
    for tag, clips in (("general", scan.repartition(2)), ("guarded", scan)):
        out = str(tmp_path / tag)
        run_suite(spark, clips, None, out, cfg, input_fingerprint=tag)
        outs.append(_rows(spark, out, "verdicts"))
    assert payload_scan_calls == [] and outs[0] == outs[1]


def test_filtered_frame_drift_counts_filtered_rows(spark, clips_parquet, tmp_path):
    """A filter on the input reaches the drift pass: the route is read off
    the frame, so a filtered scan is decoded through its plan, never from
    the raw files of the path it was read from."""
    clips = spark.read.parquet(clips_parquet).filter(F.col("codec") != "flac")
    n = clips.count()
    assert 0 < n < 2000
    cfg = SuiteConfig(num_parts=16, checks=("drift",))
    outs = []
    for tag, kw in (("path", {"clips_path": clips_parquet}), ("frame", {})):
        out = str(tmp_path / tag)
        run_suite(spark, clips, None, out, cfg, input_fingerprint=tag, **kw)
        rows = spark.read.parquet(f"{out}/verdicts").filter("rule_id = 'R062_codec_fidelity'")
        assert rows.agg(F.sum("n_rows")).first()[0] == n
        outs.append(_rows(spark, out, "verdicts"))
    assert outs[0] == outs[1]


def test_runner_falls_back_on_part_id_mismatch(spark, clips_2k, clips_parquet, tmp_path):
    """run_suite with num_parts=64 over a table materialized at P=16, read
    without its stored part_id, must not use the stored P=16 ids: verdicts
    follow ensure_part_id's semantics at P=64."""
    cfg = SuiteConfig(num_parts=64, checks=("drift",))
    out = str(tmp_path / "fallback")
    run_suite(spark, spark.read.parquet(clips_parquet).drop("part_id"),
              None, out, cfg, input_fingerprint="fb")
    verdicts = spark.read.parquet(f"{out}/verdicts")
    # part ids come from pmod(xxhash64(clip_id), 64) → they range over [0, 64)
    parts = {r["part_id"] for r in verdicts.select("part_id").distinct().collect()}
    assert max(parts) >= 16  # P=16 ids would all be < 16


def test_empty_table_same_verdicts_on_both_routes(spark, clips_2k, tmp_path,
                                                   payload_scan_calls):
    """An empty Spark-written table is one file with no row groups — a
    bare scan, so it takes the payload route, which must yield zero rows
    (not an error) and the verdicts of the JVM-fed route."""
    path = str(tmp_path / "empty")
    clips_2k.limit(0).write.parquet(path)
    scan = spark.read.parquet(path)
    assert bare_scan_files(scan, PAYLOAD_COLS)
    cfg = SuiteConfig(num_parts=4)
    outs = []
    for tag, clips in (("general", scan.repartition(2)), ("pyscan", scan)):
        out = str(tmp_path / tag)
        run_suite(spark, clips, None, out, cfg, input_fingerprint=tag)
        outs.append(_rows(spark, out, "verdicts"))
    assert len(payload_scan_calls) == 1 and outs[0] == outs[1]
