import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from semantic_log_detector_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_2k(spark):
    """2000 clips with bytes, 16 engine partitions, drift planted in part 7."""
    from semantic_log_detector_spark.sources.synth import clips_table

    df = clips_table(spark, 2000, num_parts=16, drift_parts=(7,), with_bytes=True).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="session")
def meta_4k(spark):
    """4000 clips metadata-only (fast), default 64 partitions."""
    from semantic_log_detector_spark.sources.synth import clips_table

    df = clips_table(spark, 4000, with_bytes=False).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture
def payload_scan_calls(monkeypatch):
    """Arguments of each row-group read (``row_group_frame``) made during
    the test: one per payload pass that took the row-group route
    (``map_payloads`` looks the name up in its module at call time)."""
    from semantic_log_detector_spark.sources import payload_scan

    calls = []
    real = payload_scan.row_group_frame

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(payload_scan, "row_group_frame", spy)
    return calls
