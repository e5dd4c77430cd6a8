"""The one payload reader: every payload pass (the drift decode and its
streaming R067 twin, audio fingerprints and landmarks, frame features,
pitch, the curation profile, augmentation, speech and utterance segments)
hands `map_payloads` a per-batch kernel, and `map_payloads` picks the
route and feeds it. Each kernel decodes through
functions/audio.py::decode_batch and builds its output with
`kernel_output`.

Why two routes: Spark 4's single-threaded Python runner caps JVM→worker
pipelining at the kernel socket buffer (~200 KB against ~100 MB Arrow
batches of audio), so a `scan → mapInArrow(decode)` plan pays
scan+serialize+transfer *in series* with the decode — measured 14.5 s of
pure feed per 120k clips at local[8], and the 2→8 core scaling of the
drift check drops to ~0.69 because the feed does not parallelize past the
runner. At 100 TB the payload bytes would cross the JVM→Python socket
twice for zero benefit.

So a bare parquet scan (`bare_scan_files`) moves the *reader* into the
Python worker, the pattern Spark 4 itself introduced with the Python Data
Source API: the driver lists (file, row_group) descriptors from the
parquet footers, Spark distributes the descriptors (a few KB), and each
Arrow worker opens its row group with pyarrow, streams ``BATCH_ROWS``-row
batches of only the needed columns, computes the engine partition key with the
bit-exact xxhash64 twin (functions/sparkhash.py) and runs the kernel.
Payload bytes never touch the JVM; the socket carries descriptors in and
the kernel's small rows out. Any other frame — filtered, transformed,
in-memory, streaming — is fed by ``df.select(cols).mapInArrow`` with an
in-worker read-ahead (functions/arrowio.py::prefetch_batches).

Correctness contract (tested): both routes hand the kernel the same rows,
so a pass's output over a bare scan equals its output over any
transformed frame of the same rows. The route is picked from the input
frame itself, never from a path the caller passes: a filtered frame must
use the JVM route, since the raw files bypass its plan. Row-group
granularity preserves Spark's split parallelism; pending-partition
filtering (wave resume) happens on the worker-computed part key mask
before the kernel runs.
"""

from __future__ import annotations

import logging
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checks.base import RunContext, ensure_part_id

PAYLOAD_COLS = ["clip_id", "bytes", "codec", "sr_hz", "dur_ms"]
# rows per batch the row-group reader hands a kernel
BATCH_ROWS = 1024


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

    The one route decision of every payload pass (`map_payloads`): a
    plain ``spark.read.parquet(dir)`` input — an increment's
    ``spark.read.parquet(*files)`` too — goes through the Python-native
    row-group reader, so payload bytes never cross the JVM→worker socket,
    while any transformed input falls back to the general JVM-fed path.
    The check is deliberately conservative (false negatives only): the
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
    # file: URIs → local paths (percent-escapes decoded); other schemes
    # stay as given, and the footer read below sends them to the general path
    uris = [urlparse(f) for f in files]
    files = [unquote(u.path) if u.scheme == "file" else f for u, f in zip(uris, files)]
    try:
        names = set(pq.ParquetFile(files[0]).schema_arrow.names)
    except Exception:
        return None
    if not set(needed_cols) <= names:
        return None
    return files


def list_row_groups(files: list[str], spark: SparkSession | None = None) -> list[tuple[str, int]]:
    """(file, row_group_index) descriptors for a parquet file list (the
    `bare_scan_files` route).

    Footer reads are parallelized: a driver thread pool for small file
    counts, a distributed mapInArrow job over the file list when it is
    large (pyarrow releases the GIL on I/O, and at cluster scale the
    driver must not serially open 10^6 footers)."""
    import pyarrow.parquet as pq

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


def row_group_frame(spark: SparkSession, files: list[str]) -> DataFrame:
    """(file, row_group) descriptor frame over ``files``, exactly ONE row
    group per partition: parallelize slices by range, so every task reads
    one group. A hash repartition over a tiny N-row descriptor table lands
    2-3 groups on some tasks and 0 on others — measured a 2.5× straggler
    tail on a 32-group/32-core pass (wall 7.2 s vs ~2.8 s balanced)
    because the decode cost is uniform per group. Zero row groups (an
    empty Spark-written table is one file without any) give zero rows."""
    groups = list_row_groups(files, spark)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(groups, max(len(groups), 1)),
        "file string, row_group int",
    )


def stored_part_ids_match(files: list[str], ctx: RunContext) -> bool:
    """Whether the ``ctx.part_col`` stored in ``files`` equals
    pmod(xxhash64(clip_id), num_parts) on a sample (the first non-empty
    batch). ``ensure_part_id`` trusts a stored column while the row-group
    reader computes the key itself, so a table partitioned under another
    num_parts or formula must not take the payload route: wave resume and
    drift verdicts would silently diverge from the other checks. False
    when the files do not store the column (a partition-directory column
    the raw reader cannot see)."""
    import pyarrow.parquet as pq

    from ..functions.sparkhash import xxhash64

    cols = ["clip_id", ctx.part_col]
    for f in files:
        pf = pq.ParquetFile(f)
        if not set(cols) <= set(pf.schema_arrow.names):
            return False
        # Spark routinely writes empty part-00000 files; writers may also
        # emit 0-row row groups that yield empty batches rather than none
        for rb in pf.iter_batches(batch_size=256, columns=cols):
            if rb.num_rows > 0:
                return all(
                    cid is None or pid is None
                    or xxhash64(str(cid).encode("utf-8")) % ctx.num_parts == pid
                    for cid, pid in zip(rb.column("clip_id").to_pylist(),
                                        rb.column(ctx.part_col).to_pylist()))
    return True


def map_payloads(df: DataFrame, cols: list[str], fn, schema: str,
                 ctx: RunContext | None = None,
                 pending_parts: list[int] | None = None) -> DataFrame:
    """``fn`` over ``df``'s ``cols`` as Arrow record batches: ``fn`` takes
    one batch and returns (or yields) the batches it emits, of ``schema``.

    The one route decision and both readers of every payload pass. A bare
    parquet scan (`bare_scan_files`) is read by the row-group reader, one
    task per row group, ``BATCH_ROWS`` rows per batch; any other frame by
    ``df.select(cols).mapInArrow`` with an in-worker read-ahead.

    With ``ctx``, every batch also carries ``ctx.part_col`` and only the
    rows of ``pending_parts`` (all parts when None) reach ``fn``: the
    row-group reader computes the key in the worker (the xxhash64 twin of
    `ensure_part_id`), the JVM route takes `ensure_part_id`'s column. A
    frame that carries the column keeps the JVM route unless the stored
    values match the computed ones (`stored_part_ids_match`)."""
    files = bare_scan_files(df, cols)
    if (files and ctx is not None and ctx.part_col in df.columns
            and not stored_part_ids_match(files, ctx)):
        logging.getLogger(__name__).warning(
            "stored %s does not match pmod(xxhash64(clip_id), %d); the payload "
            "pass falls back to the JVM-fed reader", ctx.part_col, ctx.num_parts)
        files = None
    if files:
        # worker-computed keys lie in [0, num_parts): a full set filters nothing
        pend = (sorted(set(pending_parts)) if ctx is not None and pending_parts is not None
                and len(set(pending_parts)) < ctx.num_parts else None)

        def read(batches):
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq

            from semantic_log_detector_spark.functions.sparkhash import xxhash64

            for b in batches:
                for file, group in zip(b.column("file").to_pylist(),
                                       b.column("row_group").to_pylist()):
                    for rb in pq.ParquetFile(file).iter_batches(
                            batch_size=BATCH_ROWS, row_groups=[group], columns=cols):
                        if ctx is not None:
                            parts = np.fromiter(
                                (xxhash64(c.encode("utf-8")) % ctx.num_parts
                                 for c in rb.column("clip_id").to_pylist()),
                                dtype=np.int32, count=rb.num_rows)
                            rb = rb.append_column(ctx.part_col, pa.array(parts))
                            if pend is not None:
                                keep = np.isin(parts, pend)
                                if not keep.any():
                                    continue
                                if not keep.all():
                                    rb = rb.filter(pa.array(keep))
                        yield from fn(rb)

        return row_group_frame(df.sparkSession, files).mapInArrow(read, schema)

    if ctx is not None:
        df = ensure_part_id(df, ctx)
        if pending_parts is not None:
            df = df.filter(F.col(ctx.part_col).isin(pending_parts))

    def feed(batches):
        from semantic_log_detector_spark.functions.arrowio import prefetch_batches

        for rb in prefetch_batches(batches):
            yield from fn(rb)

    return df.select(*cols, *([] if ctx is None else [ctx.part_col])).mapInArrow(
        feed, schema)


def kernel_output(df: DataFrame, schema: str, passthrough: tuple[str, ...] = ()):
    """The output side of a payload kernel: ``(schema, emit)``, where the
    schema is ``schema`` plus ``df``'s ``passthrough`` columns and
    ``emit(cols, rb, rows=None)`` builds one output batch from ``cols``
    (name → Python list or Arrow array) and the passthrough values of the
    input batch ``rb`` at source rows ``rows`` (every row when None) — a
    pass that emits several rows per clip, or none, names each output
    row's clip. Every column is converted to the Arrow type Spark expects
    for it (the row-group route reads a parquet INT96 timestamp as ns); a
    float NaN in a Python list becomes NULL, as pandas output did."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    for c in passthrough:
        schema += f", {c} {df.schema[c].dataType.simpleString()}"
    arrow = to_arrow_schema(StructType.fromDDL(schema))

    def emit(cols: dict, rb, rows=None):
        take = None if rows is None else pa.array(rows, pa.int64())
        for c in passthrough:
            cols[c] = rb.column(c) if take is None else rb.column(c).take(take)
        arrays = []
        for f in arrow:
            v = cols[f.name]
            arrays.append(v.cast(f.type) if isinstance(v, pa.Array)
                          else pa.array(v, f.type, from_pandas=True))
        return pa.RecordBatch.from_arrays(arrays, schema=arrow)

    return schema, emit


def payload_stats_scan(spark: SparkSession, files: list[str], ctx: RunContext,
                       **kwargs) -> DataFrame:
    """``decode_stats`` over the parquet ``files`` — kept only as a name
    the benchmark's tracer wraps; the engine calls ``decode_stats``."""
    from ..checks import drift

    return drift.decode_stats(spark.read.parquet(*files), ctx, **kwargs)
