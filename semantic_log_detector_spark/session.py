"""SparkSession factory with scale-oriented defaults.

Single place where engine-relevant Spark conf is set so tests, bench, and
spark-submit entrypoints agree. On a real cluster the same conf applies —
only master/memory change (supplied by spark-submit).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "semantic-log-detector-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    - AQE on (runtime coalescing + skew-join splitting).
    - Arrow on (vectorized pandas UDF transfer; audio decode path).
    - shuffle partitions sized to parallelism (local) — on a real cluster
      AQE coalesces, so a generous initial number is safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # binary-heavy tables: the default 4096-row columnar batch holds
        # ~1 GB of audio payload per task at 32 concurrent tasks → OOM.
        # 1024 rows × ~100-200 KB ≈ 100-200 MB per in-flight batch: measured
        # 26% faster than 256 on the drift decode at local[8] (fewer
        # per-batch socket round-trips on the Arrow feed), while 2048 is
        # slower again (allocation spikes) — A/B on 120k×1-5s clips.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        # Reused workers used to degrade run-over-run on the old
        # mapInPandas decode (bytes materialized as Python objects: 43s →
        # 126s within a session). No audio payload pass uses mapInPandas
        # now: each is an Arrow kernel over sources/payload_scan.py::
        # map_payloads that slices payloads as zero-copy memoryviews, and
        # that decode shows NO degradation with reuse on (7.1 → 7.6 → 7.5 s
        # over repeated 60k-clip passes), while reuse=false pays a fresh
        # interpreter + numpy/pyarrow import per TASK (~25% slower at 8
        # cores, worse at higher parallelism where 32 simultaneous
        # interpreter spawns contend).
        .config("spark.python.worker.reuse", "true")
        # Pin BLAS/OpenMP to one thread per Python worker. Task-level
        # parallelism already saturates the cores; OpenBLAS spinning up its
        # own threads inside every worker (numpy matmul in the mel
        # filterbank, fingerprint band projection, IVF centroid scoring)
        # oversubscribes the host — measured 4.0× on the 60k-clip decode
        # pass at local[32] (12.9 s default → 3.25 s pinned, identical
        # output). On a real cluster the same holds: cores are Spark's to
        # schedule, not the library's.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # local mode: driver IS the executor; size for 32 concurrent tasks
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the `spark-submit --py-files` story).

    Local mode inherits the driver cwd so imports may happen to work; on a
    real cluster (or a driver launched from another cwd) workers need the
    package on their python path. Zipping + addPyFile is idempotent-enough:
    Spark ignores re-adds of the same filename within a session.
    """
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / "semantic_log_detector_spark.zip"
    sources = sorted(pkg_dir.rglob("*.py"))
    newest = max((p.stat().st_mtime for p in sources), default=0.0)
    if not zip_path.exists() or zip_path.stat().st_mtime < newest:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
    try:
        spark.sparkContext.addPyFile(str(zip_path))
    except Exception:
        pass  # e.g. Spark Connect without SparkContext — rely on PYTHONPATH
