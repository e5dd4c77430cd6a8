"""Incremental validation: only new files are validated; a stored
baseline catches an increment that drifted UNIFORMLY (invisible to the
suite's per-run self-baseline)."""

import pytest
from pyspark.sql import functions as F

from semantic_log_detector_spark.plans.incremental import (
    increment_history,
    list_data_files,
    validate_increment,
)
from semantic_log_detector_spark.plans.runner import SuiteConfig, run_suite

N_PARTS = 8
CFG = SuiteConfig(num_parts=N_PARTS, checks=("row_rules", "drift"))


def _write_batch(spark, table_dir, n, seed, drift_parts=()):
    from semantic_log_detector_spark.sources.synth import clips_table

    clips_table(spark, n, seed=seed, num_parts=N_PARTS,
                drift_parts=drift_parts, with_bytes=True) \
        .write.mode("append").parquet(table_dir)


def test_only_new_files_validated(spark, tmp_path):
    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    _write_batch(spark, table, 300, seed=1)
    n1, res1 = validate_increment(spark, table, out, CFG)
    assert n1 == len(list_data_files(table)) and res1 is not None

    # no new files → no-op, no new run
    n0, res0 = validate_increment(spark, table, out, CFG)
    assert n0 == 0 and res0 is None

    before = set(f for f, _ in list_data_files(table))
    _write_batch(spark, table, 200, seed=2)
    added = [f for f, _ in list_data_files(table) if f not in before]
    n2, res2 = validate_increment(spark, table, out, CFG)
    assert n2 == len(added) > 0

    # the second run's ledger row counts cover ONLY the new batch's rows
    ledger = spark.read.parquet(f"{out}/ledger")
    rows2 = (ledger.filter(F.col("run_id") == res2.run_id)
             .filter("check_id = 'row_rules'").agg(F.sum("n_rows")).first()[0])
    assert rows2 == 200

    hist = increment_history(spark, out)
    assert hist.count() == n1 + n2
    assert hist.select("run_id").distinct().count() == 2


def test_uniform_drift_caught_by_stored_baseline(spark, tmp_path):
    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    _write_batch(spark, table, 400, seed=1)  # clean first increment
    validate_increment(spark, table, out, CFG)

    # second increment: EVERY partition drifted the same way
    _write_batch(spark, table, 400, seed=2,
                 drift_parts=tuple(range(N_PARTS)))
    _, res2 = validate_increment(spark, table, out, CFG)

    verdicts = spark.read.parquet(f"{out}/verdicts")
    failed = (verdicts.filter(F.col("run_id") == res2.run_id)
              .filter("rule_id = 'R050_drift_psi' AND NOT passed").count())
    assert failed >= N_PARTS - 1  # cross-run baseline sees the shift

    # the control: the same drifted batch under the suite's SELF-baseline
    # mostly passes — every partition drifted together, so each roughly
    # matches the run's own global histogram (a couple of parts can trip
    # on 50-clip sampling noise). This is the blindness incremental fixes.
    from semantic_log_detector_spark.sources.synth import clips_table

    drifted = clips_table(spark, 400, seed=2, num_parts=N_PARTS,
                          drift_parts=tuple(range(N_PARTS)), with_bytes=True)
    res_self = run_suite(spark, drifted, None, str(tmp_path / "self"),
                         SuiteConfig(num_parts=N_PARTS, checks=("drift",)))
    self_failed = (
        spark.read.parquet(str(tmp_path / "self" / "verdicts"))
        .filter(F.col("run_id") == res_self.run_id)
        .filter("rule_id = 'R050_drift_psi' AND NOT passed").count())
    assert self_failed <= N_PARTS // 2 < failed


def test_delta_takes_payload_route_with_jvm_route_verdicts(spark, tmp_path,
                                                           payload_scan_calls):
    """A delta is read as spark.read.parquet(*files) — a bare scan — so its
    drift pass runs on the payload route, with the verdicts and violations
    of the JVM-fed route over the same files and stored baseline."""
    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    _write_batch(spark, table, 300, seed=1)
    validate_increment(spark, table, out, CFG)
    assert len(payload_scan_calls) == 1  # the bootstrap scans the table dir
    before = set(f for f, _ in list_data_files(table))
    _write_batch(spark, table, 200, seed=2, drift_parts=(3,))
    added = [f for f, _ in list_data_files(table) if f not in before]

    _, res2 = validate_increment(spark, table, out, CFG)
    assert len(payload_scan_calls) == 2
    ref = str(tmp_path / "ref")
    run_suite(spark, spark.read.parquet(*added).repartition(2), None, ref, CFG,
              drift_baseline=spark.read.parquet(f"{out}/drift_baseline"))
    assert len(payload_scan_calls) == 2  # not a bare scan: the JVM route

    def rows(d, run_id=None):
        df = spark.read.parquet(d)
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return sorted(map(tuple, df.drop("run_id").collect()), key=repr)

    for kind in ("verdicts", "violations"):
        assert rows(f"{out}/{kind}", res2.run_id) == rows(f"{ref}/{kind}")


def test_rejects_remote_uri(spark):
    with pytest.raises(ValueError, match="local/NFS"):
        list_data_files("s3://bucket/table")


def test_report_renders_increments_and_mutation_finding(spark, tmp_path):
    import os

    from semantic_log_detector_spark.plans.report import write_report

    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    cfg = SuiteConfig(num_parts=N_PARTS, checks=("row_rules",))
    _write_batch(spark, table, 150, seed=1)
    validate_increment(spark, table, out, cfg)
    _write_batch(spark, table, 100, seed=2)
    validate_increment(spark, table, out, cfg)

    rep = write_report(spark, out)
    assert rep["increments"]["n_increments"] == 2
    assert rep["increments"]["mutated_files"] == 0
    md = open(os.path.join(out, "report.md")).read()
    assert "Incremental validation" in md and "BROKEN IMMUTABILITY" not in md

    # mutate one already-validated file in place (overwrite with another
    # valid part file of a different size) — the next increment
    # revalidates it and the report flags the broken immutability
    import shutil

    files = list_data_files(table)
    victim = files[0][0]
    donor = next(p for p, s in files[1:] if s != files[0][1])
    shutil.copyfile(donor, victim)
    # drop Hadoop's local-FS .crc sidecar for the mutated file (an object
    # store has none; here it would mask the mutation with its own error)
    crc = os.path.join(os.path.dirname(victim),
                       "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    n3, _ = validate_increment(spark, table, out, cfg)
    assert n3 >= 1
    rep2 = write_report(spark, out)
    assert rep2["increments"]["mutated_files"] >= 1
    assert "BROKEN IMMUTABILITY" in open(os.path.join(out, "report.md")).read()


def test_distributed_listing_matches_walk(spark, tmp_path):
    # nested partition dirs + root-level files: the distributed listing
    # must agree exactly with the driver-side reference walk
    from semantic_log_detector_spark.plans.incremental import (
        list_data_files_df,
    )

    table = str(tmp_path / "table")
    spark.range(0, 100).withColumn("p", F.col("id") % 4) \
        .write.partitionBy("p").parquet(table)
    spark.range(100, 110).coalesce(1).write.mode("append").parquet(table)
    got = sorted(
        (r["file"], r["size"])
        for r in list_data_files_df(spark, table).collect())
    assert got == list_data_files(table) and len(got) > 4


def test_first_run_never_materializes_listing(spark, tmp_path, monkeypatch):
    # Round-5 verdict item 4: the bootstrap over a fresh corpus must not
    # build a driver-side path list — _collect_increment is the ONE
    # materialization seam, and the first run may not reach it.
    import semantic_log_detector_spark.plans.incremental as inc

    def boom(df):
        raise AssertionError("first run materialized the listing")

    monkeypatch.setattr(inc, "_collect_increment", boom)
    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    _write_batch(spark, table, 300, seed=1)
    n1, res1 = validate_increment(spark, table, out, CFG)
    assert n1 == len(list_data_files(table)) and res1 is not None

    # later increments DO collect — but only increment-sized inputs
    monkeypatch.undo()
    seen = []
    real = inc._collect_increment
    monkeypatch.setattr(
        inc, "_collect_increment",
        lambda df: seen.append(real(df)) or seen[-1])
    before = {f for f, _ in list_data_files(table)}
    _write_batch(spark, table, 100, seed=2)
    added = {f for f, _ in list_data_files(table)} - before
    n2, _ = validate_increment(spark, table, out, CFG)
    assert n2 == len(added)
    assert len(seen) == 1 and {f for f, _ in seen[0]} == added


def test_ledger_compaction_and_crash_recovery(spark, tmp_path):
    import os
    import shutil

    from semantic_log_detector_spark.plans.incremental import (
        maybe_compact_ledger,
    )

    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    for seed in range(1, 6):  # five increments -> five ledger part files
        _write_batch(spark, table, 60, seed=seed)
        validate_increment(spark, table, out, CFG)
    ledger = f"{out}/files_ledger"
    n_rows = spark.read.parquet(ledger).count()
    parts = lambda: [n for n in os.listdir(ledger) if n.endswith(".parquet")]
    assert len(parts()) >= 5
    assert maybe_compact_ledger(spark, out, max_parts=2)
    assert len(parts()) <= 2
    assert spark.read.parquet(ledger).count() == n_rows  # row-preserving
    # anti-join still sees everything ledgered: a no-op increment
    n0, res0 = validate_increment(spark, table, out, CFG)
    assert n0 == 0 and res0 is None

    # crash between rm(old) and rename(new): reader adopts .compacted
    shutil.move(ledger, f"{ledger}.compacted")
    assert increment_history(spark, out).count() == n_rows
    assert os.path.isdir(ledger) and not os.path.isdir(f"{ledger}.compacted")


def test_midrun_file_never_ledgered_unvalidated(spark, tmp_path, monkeypatch):
    """A file landing WHILE a validation run is in flight must not be
    ledgered by that run (it was never validated — the forbidden
    direction); the next increment must pick it up. Exercises the
    listing-snapshot fix: the lazy distributed listing re-walks the dir on
    every action, so without a snapshot the first-run ledger write (which
    re-evaluates the listing) would silently absorb the late file."""
    from semantic_log_detector_spark.plans import incremental as inc

    table = str(tmp_path / "table")
    out = str(tmp_path / "out")
    _write_batch(spark, table, 120, seed=1)
    before = {f for f, _ in list_data_files(table)}

    real_run_suite = inc.run_suite

    def run_suite_and_ingest(*a, **k):
        res = real_run_suite(*a, **k)
        # lands between the fingerprint snapshot and the ledger write
        _write_batch(spark, table, 40, seed=9)
        return res

    monkeypatch.setattr(inc, "run_suite", run_suite_and_ingest)
    n1, res1 = validate_increment(spark, table, out, CFG)
    monkeypatch.setattr(inc, "run_suite", real_run_suite)
    assert n1 == len(before) and res1 is not None

    late = {f for f, _ in list_data_files(table)} - before
    assert late  # the mid-run batch did land
    ledgered = {r["file"] for r in
                spark.read.parquet(f"{out}/files_ledger").collect()}
    assert ledgered == before  # ledger == the validated snapshot, exactly
    # the late files are validated by the NEXT increment, not skipped
    n2, res2 = validate_increment(spark, table, out, CFG)
    assert n2 == len(late) and res2 is not None


def test_first_run_scan_pinned_to_listing_snapshot(spark, tmp_path):
    # round 6 (ADVICE #1): a file landing between the listing snapshot and
    # the first-run wholesale read must NOT be validated under this
    # increment (it would be ledgered never / indexed twice) — the scan is
    # pinned to the snapshot via the input_file_name exclusion filter
    from semantic_log_detector_spark.plans.incremental import (
        _exclude_post_snapshot_files,
        list_data_files_df,
    )

    t = str(tmp_path / "t")
    spark.range(5).selectExpr("id", "'a' as tag").coalesce(1) \
        .write.mode("overwrite").parquet(t)
    snap = list_data_files_df(spark, t).cache()
    snap.count()
    # a file lands after the snapshot
    spark.range(100, 103).selectExpr("id", "'b' as tag").coalesce(1) \
        .write.mode("append").parquet(t)
    clips = spark.read.parquet(t)
    assert clips.count() == 8  # wholesale read sees the late file
    pinned = _exclude_post_snapshot_files(spark, clips, snap, t)
    assert sorted(r["id"] for r in pinned.collect()) == [0, 1, 2, 3, 4]
    # no overhang → the frame is returned unchanged (no filter added)
    snap2 = list_data_files_df(spark, t).cache()
    snap2.count()
    clips2 = spark.read.parquet(t)
    assert _exclude_post_snapshot_files(spark, clips2, snap2, t) is clips2
    snap.unpersist(); snap2.unpersist()


def test_snapshot_pinning_through_symlinked_table_dir(spark, tmp_path):
    """The table read through a symlink: the overhang URIs must match the
    scan's input_file_name, which keeps the symlinked path (a resolved
    path would match nothing and the late file would slip through)."""
    import os

    from semantic_log_detector_spark.plans.incremental import (
        _exclude_post_snapshot_files,
        list_data_files_df,
    )

    real = tmp_path / "real"
    spark.range(5).selectExpr("id", "'a' as tag").coalesce(1) \
        .write.mode("overwrite").parquet(str(real))
    link = str(tmp_path / "link")
    os.symlink(real, link)
    snap = list_data_files_df(spark, link).cache()
    snap.count()
    spark.range(100, 103).selectExpr("id", "'b' as tag").coalesce(1) \
        .write.mode("append").parquet(str(real))
    clips = spark.read.parquet(link)
    assert clips.count() == 8
    pinned = _exclude_post_snapshot_files(spark, clips, snap, link)
    assert sorted(r["id"] for r in pinned.collect()) == [0, 1, 2, 3, 4]
    snap.unpersist()
