"""Per-partition progress ledger — checkpoint/resume with lineage + metrics.

Generalizes the reference's whole-dataset cache short-circuit
(`src/ids/data_loader.py:356-362`: "processed parquet exists → skip raw
ingest") to partition granularity: each (part_id, check_id) completion is a
ledger row carrying lineage (input fingerprint, config hash) and metrics
(rows, violations, wall). Resume = anti-join pending partitions against
completed ledger rows *with matching lineage* — a config or input change
invalidates prior completions automatically.

Storage is an append-only parquet directory (Iceberg-style table semantics
without requiring runtime jars — SURVEY.md §7.3): concurrent/dirty writers
only ever add files; readers dedupe by latest completed_at.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid as _uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# pyarrow twin of schema.LEDGER_SCHEMA — the ledger is tiny driver-side
# metadata (parts × checks rows), so it is written directly with pyarrow:
# a Spark write job here costs ~1 s of scheduling per append (×1 per check
# per wave), a pure fixed cost that dilutes scaling efficiency.
_PA_LEDGER = pa.schema(
    [
        ("run_id", pa.string()),
        ("part_id", pa.int32()),
        ("check_id", pa.string()),
        ("status", pa.string()),
        ("n_rows", pa.int64()),
        ("n_violations", pa.int64()),
        ("wall_ms", pa.float64()),
        ("input_fingerprint", pa.string()),
        ("config_hash", pa.string()),
        ("completed_at", pa.timestamp("us", tz="UTC")),
    ]
)


# pyarrow twins of schema.VERDICT_SCHEMA / VIOLATION_SCHEMA for driver-side
# rows (e.g. the plan-time schema check): writing a handful of local rows
# through a Spark job costs seconds of scheduling for zero distribution.
_PA_VERDICT = pa.schema(
    [
        ("run_id", pa.string()),
        ("part_id", pa.int32()),
        ("rule_id", pa.string()),
        ("passed", pa.bool_()),
        ("n_rows", pa.int64()),
        ("n_violations", pa.int64()),
        ("observed", pa.string()),
        ("expected", pa.string()),
    ]
)
_PA_VIOLATION = pa.schema(
    [
        ("run_id", pa.string()),
        ("part_id", pa.int32()),
        ("rule_id", pa.string()),
        ("clip_id", pa.string()),
        ("column", pa.string()),
        ("observed", pa.string()),
        ("expected", pa.string()),
        ("severity", pa.string()),
        ("explanation", pa.string()),
    ]
)


def write_local_rows(path: str, rows: list[tuple], kind: str) -> None:
    """Append driver-local verdict/violation rows as one parquet file."""
    schema = {"verdicts": _PA_VERDICT, "violations": _PA_VIOLATION}[kind]
    if not rows:
        # still create the directory so downstream readers see the table
        os.makedirs(path, exist_ok=True)
        rows = []
    cols = {
        f.name: [r[i] for r in rows] for i, f in enumerate(schema)
    }
    table = pa.table(cols, schema=schema)
    os.makedirs(path, exist_ok=True)
    name = f"part-{_uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def append(
    spark: SparkSession,
    ledger_path: str,
    run_id: str,
    check_id: str,
    part_stats: list[tuple[int, int, int]],  # (part_id, n_rows, n_violations)
    wall_ms: float,
    input_fingerprint: str,
    config_hash: str,
    status: str = "done",
) -> None:
    if not part_stats:
        return
    now = _dt.datetime.now(tz=_dt.timezone.utc)
    table = pa.table(
        {
            "run_id": [run_id] * len(part_stats),
            "part_id": [int(p) for p, _, _ in part_stats],
            "check_id": [check_id] * len(part_stats),
            "status": [status] * len(part_stats),
            "n_rows": [int(nr) for _, nr, _ in part_stats],
            "n_violations": [int(nv) for _, _, nv in part_stats],
            "wall_ms": [float(wall_ms)] * len(part_stats),
            "input_fingerprint": [input_fingerprint] * len(part_stats),
            "config_hash": [config_hash] * len(part_stats),
            "completed_at": [now] * len(part_stats),
        },
        schema=_PA_LEDGER,
    )
    os.makedirs(ledger_path, exist_ok=True)
    # write-to-temp + rename: readers never observe a partial file; the
    # dot-prefix keeps Spark and pyarrow.dataset from reading a leftover
    # temp if a crash lands between write and rename
    name = f"part-{_uuid.uuid4().hex}.parquet"
    final = os.path.join(ledger_path, name)
    tmp = os.path.join(ledger_path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


def read(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    if not _exists(ledger_path):
        return None
    return spark.read.parquet(ledger_path)


def completed_map(
    spark: SparkSession,
    ledger_path: str,
    input_fingerprint: str,
    config_hash: str,
) -> dict[str, set[int]]:
    """check_id → completed part_ids, one ledger scan for the whole run
    (the runner tracks its own appends in-memory on top of this).

    Read with pyarrow.dataset, not a Spark job: the ledger is driver-side
    metadata and the filter is pushed into the parquet scan either way."""
    if not _exists(ledger_path):
        return {}
    import pyarrow.dataset as ds

    dataset = ds.dataset(ledger_path, format="parquet")
    table = dataset.to_table(
        columns=["check_id", "part_id"],
        filter=(
            (ds.field("status") == "done")
            & (ds.field("input_fingerprint") == input_fingerprint)
            & (ds.field("config_hash") == config_hash)
        ),
    )
    out: dict[str, set[int]] = {}
    for check_id, part_id in zip(
        table.column("check_id").to_pylist(), table.column("part_id").to_pylist()
    ):
        out.setdefault(check_id, set()).add(part_id)
    return out


def _exists(path: str) -> bool:
    if os.path.isdir(path):
        return any(f.endswith(".parquet") for f in os.listdir(path))
    return False
