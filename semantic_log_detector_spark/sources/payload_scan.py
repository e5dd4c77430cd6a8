"""Python-native parquet payload scan for the drift check.

Why this exists: Spark 4's single-threaded Python runner caps JVM→worker
pipelining at the kernel socket buffer (~200 KB against ~100 MB Arrow
batches of audio), so a `scan → mapInArrow(decode)` plan pays
scan+serialize+transfer *in series* with the decode — measured 14.5 s of
pure feed per 120k clips at local[8], and the 2→8 core scaling of the
drift check drops to ~0.69 because the feed does not parallelize past the
runner. At 100 TB the payload bytes would cross the JVM→Python socket
twice for zero benefit.

The fix is the pattern Spark 4 itself introduced with the Python Data
Source API: move the *reader* into the Python worker. Here the driver
lists (file, row_group) descriptors from the parquet footerss, Spark
distributes the descriptors (a few KB), and each Arrow worker opens its
row group with pyarrow, streams 1024-row batches of only the needed
columns, computes the engine partition key with the bit-exact xxhash64
twin (functions/sparkhash.py), and runs the SAME per-batch kernel
(checks/drift.py::stats_record_batch) the JVM-fed path uses. Payload
bytes never touch the JVM; the socket carries descriptors in and tiny
histogram/violation rows out.

Correctness contract (tested): for a pure parquet-scan input, output rows
== decode_stats(df) rows exactly. The runner only selects this path when
the caller passes the table's path (cli --input, bench, scaling), never
for arbitrary DataFrames — a filtered/transformed DF must use the general
path since raw files bypass its plan. Row-group granularity preserves
Spark's split parallelism; pending-partition filtering (wave resume)
happens on the worker-computed part_id mask before decode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..checks.base import RunContext
from ..checks.drift import DEFAULT_BINS, FEATURE_NAMES, _STATS_SCHEMA, BinSpec

_COLS = ["clip_id", "bytes", "codec", "sr_hz", "dur_ms"]


def _list_parquet_files(path: str) -> list[str]:
    """All *.parquet files under ``path``, recursively — nested /
    hive-partitioned (key=value subdir) layouts included, matching what
    spark.read.parquet would pick up. Hidden/_-prefixed entries skipped."""
    if not os.path.isdir(path):
        return [path]
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(root, f) for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return sorted(out)


# above this many files, footer listing runs as a Spark job instead of
# driver threads — at a 100 TB table the footer metadata alone is a
# distributed workload
_DISTRIBUTED_LISTING_THRESHOLD = 64


def _is_bare_parquet_scan(plan) -> bool:
    """True when the optimized logical ``plan`` (a py4j handle) is nothing
    but attribute-only Project nodes over one parquet relation. Walked
    node by node through py4j, not parsed from the plan's text: Spark
    truncates that at ``spark.sql.debug.maxToStringFields``, so a computed
    column of a wide table hides behind "... N more fields"."""
    node = plan
    while node.getClass().getSimpleName() == "Project":
        exprs = node.projectList()
        if any(exprs.apply(i).getClass().getSimpleName() != "AttributeReference"
               for i in range(exprs.size())):
            return False
        node = node.child()
    if node.getClass().getSimpleName() != "LogicalRelation":
        return False
    rel = node.relation()
    return (rel.getClass().getSimpleName() == "HadoopFsRelation"
            and rel.fileFormat().getClass().getSimpleName() == "ParquetFileFormat")


def bare_scan_files(df: DataFrame, needed_cols: list[str]) -> list[str] | None:
    """Parquet files behind ``df`` when it is a PURE column-pruned scan —
    else None (round 6).

    Lets payload operators (audio landmarks/fingerprints) route a plain
    ``spark.read.parquet(dir)`` input through the Python-native row-group
    reader — payload bytes never cross the JVM→worker socket — while any
    transformed input falls back to the general mapInPandas path. The
    check is deliberately conservative (false negatives only): the
    OPTIMIZED logical plan must consist of nothing but attribute-only
    Project nodes over exactly one parquet Relation (a Filter, Generate,
    expression or join anywhere → None), and every needed column must
    exist in the first file's physical schema (a partition-directory
    column the raw reader cannot see → None)."""
    import pyarrow.parquet as pq

    try:
        if not _is_bare_parquet_scan(df._jdf.queryExecution().optimizedPlan()):
            return None
    except Exception:
        return None
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    files = [f[len("file:"):] if f.startswith("file:") else f for f in files]
    try:
        names = set(pq.ParquetFile(files[0]).schema_arrow.names)
    except Exception:
        return None
    if not set(needed_cols) <= names:
        return None
    return files


def list_row_groups(path: str | list[str], spark: SparkSession | None = None) -> list[tuple[str, int]]:
    """(file, row_group_index) descriptors for a parquet directory/file —
    or for an explicit file list (round 6: the `bare_scan_files` route).

    Footer reads are parallelized: a driver thread pool for small file
    counts, a distributed mapInArrow job over the file list when it is
    large (pyarrow releases the GIL on I/O, and at cluster scale the
    driver must not serially open 10^6 footers)."""
    import pyarrow.parquet as pq

    files = list(path) if isinstance(path, (list, tuple)) else _list_parquet_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path!r}")

    if spark is not None and len(files) > _DISTRIBUTED_LISTING_THRESHOLD:
        desc = spark.createDataFrame(
            [(f,) for f in files], "file string"
        ).repartition(min(len(files), 256))

        def gen(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq_w

            for b in batches:
                fs = b.column("file").to_pylist()
                ns = [pq_w.ParquetFile(f).metadata.num_row_groups for f in fs]
                yield pa.record_batch(
                    [pa.array(fs, type=pa.string()), pa.array(ns, type=pa.int32())],
                    names=["file", "n"],
                )

        counts = {
            r["file"]: r["n"]
            for r in desc.mapInArrow(gen, "file string, n int").collect()
        }
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, max(len(files), 1))) as pool:
            ns = list(pool.map(lambda f: pq.ParquetFile(f).metadata.num_row_groups, files))
        counts = dict(zip(files, ns))
    return [(f, g) for f in files for g in range(counts[f])]


def validate_payload_path(path: str, num_parts: int) -> str | None:
    """Cheap preflight for the Python-native payload path; returns a human
    reason string when the path must NOT be used (caller falls back to the
    JVM-fed decode_stats), else None.

    Guards two silent-wrongness cases: (a) a file schema missing payload
    columns (e.g. partition-directory columns the raw reader cannot see),
    and (b) a stored part_id computed under a different num_parts /
    formula than pmod(xxhash64(clip_id), num_parts) — wave resume and
    drift verdicts would silently diverge from the other checks."""
    import pyarrow.parquet as pq

    files = _list_parquet_files(path)
    if not files:
        return "no parquet files"
    pf = pq.ParquetFile(files[0])
    names = set(pf.schema_arrow.names)
    missing = sorted(set(_COLS) - names)
    if missing:
        return f"file schema missing columns {missing}"
    if "part_id" in names:
        from ..functions.sparkhash import xxhash64

        # sample the first non-empty batch (Spark routinely writes empty
        # part-00000 files; writers may also emit 0-row row groups that
        # yield empty batches rather than none)
        rb = None
        for f in files:
            for batch in pq.ParquetFile(f).iter_batches(
                batch_size=256, columns=["clip_id", "part_id"]
            ):
                if batch.num_rows > 0:
                    rb = batch
                    break
            if rb is not None:
                break
        for cid, pid in zip(rb.column("clip_id").to_pylist(),
                            rb.column("part_id").to_pylist()) if rb is not None else ():
            if cid is None or pid is None:
                continue
            if xxhash64(str(cid).encode("utf-8")) % num_parts != pid:
                return (
                    "stored part_id does not match pmod(xxhash64(clip_id), "
                    f"{num_parts}) — table was partitioned differently"
                )
    return None


def payload_stats_scan(
    spark: SparkSession,
    path: str,
    ctx: RunContext,
    bins: dict[str, BinSpec] | None = None,
    pending_parts: list[int] | None = None,
    dur_tol_ms: float = 20.0,
    dur_tol_rel: float = 0.02,
    batch_rows: int = 1024,
    strict_codecs: bool = False,
    noise: tuple[float, int] | None = None,
    speech: bool = False,
) -> DataFrame:
    """decode_stats-equivalent DataFrame, read Python-side from ``path``.

    One Spark task per parquet row group; workers stream ``batch_rows``-row
    slices of the payload columns directly from the file (no JVM transfer),
    filter to ``pending_parts`` (wave resume) via the worker-computed
    part key, and emit _STATS_SCHEMA rows.
    """
    bins = bins or DEFAULT_BINS
    specs = [(i, name, bins[name]) for i, name in enumerate(FEATURE_NAMES)]
    n_feat = len(FEATURE_NAMES)
    num_parts = ctx.num_parts
    pend = sorted(pending_parts) if pending_parts is not None else None

    groups = list_row_groups(path, spark)
    if not groups:
        raise ValueError(f"no parquet row groups under {path!r}")
    # exactly ONE row group per partition: parallelize slices by range, so
    # every task decodes one group. A hash repartition over a tiny N-row
    # descriptor table lands 2-3 groups on some tasks and 0 on others —
    # measured a 2.5× straggler tail on a 32-group/32-core pass (wall 7.2 s
    # vs ~2.8 s balanced) because the decode cost is uniform per group.
    desc = spark.createDataFrame(
        spark.sparkContext.parallelize(groups, len(groups)),
        "file string, row_group int",
    )

    def gen(batches):
        import numpy as np
        import pyarrow.parquet as pq

        from semantic_log_detector_spark.checks.drift import stats_record_batch
        from semantic_log_detector_spark.functions.sparkhash import xxhash64

        pend_set = set(pend) if pend is not None else None
        for b in batches:
            for file, group in zip(b.column("file").to_pylist(),
                                   b.column("row_group").to_pylist()):
                pf = pq.ParquetFile(file)
                for rb in pf.iter_batches(batch_size=batch_rows,
                                          row_groups=[group], columns=_COLS):
                    clip_ids = rb.column("clip_id").to_pylist()
                    parts = np.fromiter(
                        (xxhash64(c.encode("utf-8")) % num_parts for c in clip_ids),
                        dtype=np.int64, count=len(clip_ids),
                    )
                    payloads = rb.column("bytes")
                    codecs = rb.column("codec").to_pylist()
                    decl_sr = rb.column("sr_hz").to_pylist()
                    decl_dur = rb.column("dur_ms").to_pylist()
                    if pend_set is not None:
                        keep = [i for i, p in enumerate(parts) if int(p) in pend_set]
                        if not keep:
                            continue
                        if len(keep) < len(clip_ids):
                            clip_ids = [clip_ids[i] for i in keep]
                            codecs = [codecs[i] for i in keep]
                            decl_sr = [decl_sr[i] for i in keep]
                            decl_dur = [decl_dur[i] for i in keep]
                            payloads = payloads.take(keep)
                            parts = parts[keep]
                    yield stats_record_batch(
                        clip_ids, parts, payloads, codecs, decl_sr, decl_dur,
                        specs, n_feat, dur_tol_ms, dur_tol_rel, strict_codecs,
                        noise, speech,
                    )

    return desc.mapInArrow(gen, schema=_STATS_SCHEMA)
