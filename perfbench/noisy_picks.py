#!/usr/bin/env python3
"""List the clip-pool picks on which the drift check flags an unplanted part.

    python3 perfbench/noisy_picks.py

Run from the root of a checkout whose clip pool is built (any
``suite_payload`` run builds it). Computes the drift check's fixed-bin
histograms once per pool file, sums them for each of the
C(POOL_FILES, PICK_FILES) picks, scores every pick with the check's own
PSI/KS and thresholds, and prints the picks whose flagged parts differ from
``DRIFT_PARTS``: the value of ``fixtures.NOISY_PICKS``. Histograms add up
across files because the bins are fixed and each clip's part comes from
its id, so this equals running the check on each pick.
"""

from __future__ import annotations

import itertools
import os
import sys

import run


def main() -> int:
    nproc = len(os.sched_getaffinity(0))
    conf = run.prepare_env(nproc)
    sys.path[:0] = [str(run.ROOT), str(run.HERE)]

    from pyspark.sql import functions as F

    from benchlib import fixtures
    from benchlib.workloads import NUM_PARTS
    from semantic_log_detector_spark import session
    from semantic_log_detector_spark.checks import base, drift
    from semantic_log_detector_spark.plans.runner import SuiteConfig

    if not fixtures.exists(run.BUILD / "fixtures", "pool",
                           fixtures.POOL_FILES * fixtures.POOL_FILE_ROWS, fixtures.POOL_SEED):
        run.fail("clip pool not built: run the suite_payload workload once first")
    files = run.clip_pool().files("clips")
    cfg = SuiteConfig(num_parts=NUM_PARTS)
    ctx = base.RunContext(run_id="noisy-picks", num_parts=NUM_PARTS)
    spark = session.get_spark(master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        per_file = []
        for f in files:
            stats = drift.decode_stats(base.ensure_part_id(spark.read.parquet(f), ctx), ctx,
                                       strict_codecs=cfg.strict_codecs, speech=True)
            per_file.append({
                tuple(r[:3]): r[3] for r in
                stats.filter(F.col("kind") == "h")
                .groupBy(F.col("part_id"), "feature", "bin").agg(F.sum("cnt")).collect()})
    finally:
        run.stop_spark(spark)

    noisy = []
    for pick in itertools.combinations(range(len(files)), fixtures.PICK_FILES):
        hist: dict = {}
        for k in pick:
            for key, cnt in per_file[k].items():
                hist[key] = hist.get(key, 0) + cnt
        scored = drift.drift_scores_local([(*k, c) for k, c in hist.items()], ctx)
        flagged = sorted({part for part, _, psi, ks in scored
                          if psi > cfg.psi_threshold or ks > cfg.ks_threshold})
        if flagged != sorted(fixtures.DRIFT_PARTS):
            noisy.append(pick)
            print(f"{pick}: flags parts {flagged}", file=sys.stderr)
    print(f"{len(noisy)} of {len(list(itertools.combinations(files, fixtures.PICK_FILES)))} "
          f"picks are noisy", file=sys.stderr)
    print(sorted(noisy))
    return 0


if __name__ == "__main__":
    sys.exit(main())
