"""Round-6 bare-scan routing: audio_landmarks / audio_fingerprint run the
Python-native row-group reader when (and only when) the input is a pure
parquet scan, with rows identical to the JVM-fed mapInPandas path."""

import pytest
from pyspark.sql import functions as F

from semantic_log_detector_spark.operators.audio_dedup import audio_fingerprint
from semantic_log_detector_spark.operators.audio_search import audio_landmarks
from semantic_log_detector_spark.sources.payload_scan import bare_scan_files

COLS = ["clip_id", "bytes", "codec"]


@pytest.fixture(scope="module")
def clip_parquet(spark, tmp_path_factory):
    from semantic_log_detector_spark.sources.synth import content_dup_clips

    path = str(tmp_path_factory.mktemp("scanroute") / "clips")
    (content_dup_clips(spark, 300, seed=5)
     .select("clip_id", "bytes", "codec")
     .repartition(4).write.mode("overwrite").parquet(path))
    return path


def test_bare_scan_detection(spark, clip_parquet):
    scan = spark.read.parquet(clip_parquet)
    assert bare_scan_files(scan, COLS)  # pure scan → route
    assert bare_scan_files(scan.select(*COLS), COLS)  # attribute project → route
    # anything transformed must fall back
    assert bare_scan_files(scan.where(F.length("clip_id") >= 0), COLS) is None
    assert bare_scan_files(scan.limit(10), COLS) is None
    assert bare_scan_files(
        scan.withColumn("codec", F.upper("codec")), COLS) is None
    assert bare_scan_files(scan.dropDuplicates(["clip_id"]), COLS) is None
    # missing physical column → fall back
    assert bare_scan_files(scan, COLS + ["not_there"]) is None
    # non-parquet input → fall back
    mem = spark.createDataFrame([("a", b"x", "pcm_s16le")],
                                "clip_id string, bytes binary, codec string")
    assert bare_scan_files(mem, COLS) is None


def test_transformed_wide_table_is_not_a_bare_scan(spark, clip_parquet, tmp_path):
    """Spark truncates a plan's text at spark.sql.debug.maxToStringFields
    (25 by default): a computed column of a 31-column table sits behind
    "... 6 more fields" and must still fall back."""
    path = str(tmp_path / "wide")
    (spark.read.parquet(clip_parquet)
     .select(*COLS, *[F.lit(i).alias(f"c{i}") for i in range(3, 31)])
     .write.parquet(path))
    wide = spark.read.parquet(path)
    assert bare_scan_files(wide, COLS)
    assert bare_scan_files(wide.withColumn("c29", F.col("c29") + 1), COLS) is None
    assert bare_scan_files(wide.select(*wide.columns[:-1], F.lit(0).alias("c30")),
                           COLS) is None


def test_landmarks_scan_path_equals_fallback(spark, clip_parquet):
    scan = spark.read.parquet(clip_parquet)
    fallback = scan.where(F.length("clip_id") >= 0)  # breaks bareness only
    a = sorted(map(tuple, audio_landmarks(scan).collect()))
    b = sorted(map(tuple, audio_landmarks(fallback).collect()))
    assert a == b and len(a) > 0


def test_fingerprint_scan_path_equals_fallback(spark, clip_parquet):
    scan = spark.read.parquet(clip_parquet)
    fallback = scan.where(F.length("clip_id") >= 0)
    a = sorted(map(tuple, audio_fingerprint(scan).collect()))
    b = sorted(map(tuple, audio_fingerprint(fallback).collect()))
    assert a == b and len(a) == 300
