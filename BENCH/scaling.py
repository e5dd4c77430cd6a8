"""Two-parallelism scaling evidence (the north_rule criterion).

No real cluster exists in this sandbox, so the N→4N-executor scaling
criterion is evidenced by running the IDENTICAL job at local[N] and
local[4N] on the same materialized input: throughput at both levels +
efficiency = (thr_4N / thr_N) / 4.

Level choice is hardware-calibrated, not assumed: the sandbox VM exposes
32 vCPUs but a multiprocess numpy burn test (``calibrate()``) shows
aggregate throughput stops scaling past ~16 processes (host
oversubscription / steal — per-process speed halves at 32). Scaling runs
therefore default to N=1 → 4N=4, squarely inside the region where the
*hardware* scales linearly (1→4 proc efficiency 0.98 measured), so the
measurement isolates the ENGINE's scaling behavior from the host's.
Override with SPARK_GRAFT_SCALING_LEVELS (e.g. "2,8").

Each measurement is a fresh JVM running one untimed warmup suite
(codegen/worker/page-cache warm) then one timed suite; levels are
interleaved and medians reported (shared VM shows steal spikes and ±30%
run variance).

Usage:
    python BENCH/scaling.py                 # orchestrate, write BENCH/BASELINE.md
    python BENCH/scaling.py level 8 120000  # single level (subprocess mode)
    python BENCH/scaling.py calibrate       # hardware burn test only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

N_CLIPS = int(os.environ.get("SPARK_GRAFT_SCALING_CLIPS", 120_000))
DUR = (1000, 5000)  # longer clips: decode-dominated, like production
LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "1,4").split(",")
)


def calibrate(seconds: float = 5.0,
              levels: tuple = (1, 4, 8, 16, 32)) -> dict[int, float]:
    """Raw multiprocess decode throughput at 1/4/8/16/32 processes — what
    the host actually delivers, independent of Spark. clips/sec aggregate."""
    from multiprocessing import Pool

    out: dict[int, float] = {}
    for nproc in levels:
        with Pool(nproc) as pool:
            counts = pool.starmap(_burn_one, [(seconds,)] * nproc)
        out[nproc] = round(sum(counts) / seconds, 0)
    return out


def mem_bandwidth(seconds: float = 1.5, nproc: int = 8) -> float:
    """Aggregate streaming-copy bandwidth in GB/s across ``nproc``
    processes (DRAM-sized buffers, far beyond LLC). The decode burn in
    ``calibrate`` is cache-resident compute and cannot see a contended
    memory bus, so suite walls should be interpreted against BOTH
    numbers. Calm-host reference on this VM: ~85 GB/s aggregate."""
    from multiprocessing import Pool

    with Pool(nproc) as pool:
        rates = pool.starmap(_bw_one, [(seconds,)] * nproc)
    return round(sum(rates), 2)


def _bw_one(seconds: float) -> float:
    import numpy as np

    src = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)  # 64 MiB
    dst = np.empty_like(src)
    np.copyto(dst, src)  # untimed first-touch: page-fault/zeroing of dst
    # stalls the first copy ~100x (observed 0.06 vs 20 GB/s) — not DRAM
    t0, moved = time.time(), 0
    while time.time() - t0 < seconds:
        np.copyto(dst, src)
        moved += src.nbytes * 2  # read + write
    return moved / (time.time() - t0) / 1e9


def _burn_one(seconds: float) -> int:
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    import numpy as np

    from semantic_log_detector_spark.functions.audio import (
        clip_features,
        decode_clip,
        encode_wav,
    )

    rng = np.random.default_rng(0)
    buf = encode_wav(rng.standard_normal(48000).astype(np.float32) * 0.1, 16000)
    t0, n = time.time(), 0
    while time.time() - t0 < seconds:
        pcm, sr = decode_clip(buf, "pcm_s16le")
        clip_features(pcm, sr)
        n += 1
    return n


def materialize(n: int) -> tuple[str, str]:
    from semantic_log_detector_spark.session import get_spark
    from semantic_log_detector_spark.sources.synth import clips_table, transcripts_table

    cdir = f"/tmp/sld_bench_cache/clips_scaling_{n}"
    tdir = f"/tmp/sld_bench_cache/transcripts_scaling_{n}"
    if not (os.path.isdir(cdir) and any(f.endswith("parquet") for f in os.listdir(cdir))):
        spark = get_spark(master="local[16]")
        spark.sparkContext.setLogLevel("ERROR")
        clips_table(spark, n, dur_min_ms=DUR[0], dur_max_ms=DUR[1]).write.mode(
            "overwrite"
        ).parquet(cdir)
        transcripts_table(spark, n).write.mode("overwrite").parquet(tdir)
        spark.stop()
    return cdir, tdir


def run_level(cores: int, n: int) -> dict:
    """ONE timed measurement in a fresh JVM: a sampled warmup suite (~5% of
    clips — warms codegen, Python workers, and the page cache without
    bloating the JVM) followed by one timed full suite.

    Fresh-JVM-per-measurement keeps JVM heap/code-cache state identical
    across levels; the orchestrator interleaves levels (N,4N,N,4N,...) so
    hypervisor noise hits both levels equally.
    """
    from pyspark.sql import functions as F

    from semantic_log_detector_spark.plans.runner import SuiteConfig, run_suite
    from semantic_log_detector_spark.session import get_spark

    cdir = f"/tmp/sld_bench_cache/clips_scaling_{n}"
    tdir = f"/tmp/sld_bench_cache/transcripts_scaling_{n}"
    # pre-warm the page cache: this VM's disk reads ~65 MB/s cold (artifact
    # of the sandbox, not engine behavior)
    for d in (cdir, tdir):
        for f in Path(d).glob("*.parquet"):
            f.read_bytes()
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    clips = spark.read.parquet(cdir)
    transcripts = spark.read.parquet(tdir)

    out = tempfile.mkdtemp(prefix=f"sld_warm_{cores}_")
    warm = clips.filter(F.pmod(F.xxhash64("clip_id"), F.lit(20)) == 0)
    run_suite(spark, warm, transcripts, out, SuiteConfig(), input_fingerprint="warm")

    out = tempfile.mkdtemp(prefix=f"sld_scale_{cores}_")
    t0 = time.time()
    run_suite(spark, clips, transcripts, out, SuiteConfig(), input_fingerprint="timed")
    wall = time.time() - t0
    spark.stop()
    return {
        "cores": cores,
        "n_clips": n,
        "suite_s": round(wall, 1),
        "suite_clips_per_sec": round(n / wall, 1),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "level":
        print(json.dumps(run_level(int(sys.argv[2]), int(sys.argv[3]))))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "calibrate":
        print(json.dumps(calibrate()))
        return

    import statistics

    cal = calibrate()
    materialize(N_CLIPS)
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", 5))
    results: dict[int, list[dict]] = {c: [] for c in LEVELS}
    for rep in range(reps):
        for cores in LEVELS:  # interleaved so VM noise hits both levels
            out = subprocess.run(
                [sys.executable, __file__, "level", str(cores), str(N_CLIPS)],
                capture_output=True, text=True, timeout=3600,
                cwd=str(Path(__file__).resolve().parents[1]),
            )
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if not lines:
                raise RuntimeError(f"level {cores} rep {rep} failed:\n{out.stderr[-2000:]}")
            results[cores].append(json.loads(lines[-1]))
            print(rep, results[cores][-1], flush=True)

    med = {
        c: statistics.median(r["suite_clips_per_sec"] for r in results[c])
        for c in LEVELS
    }
    walls = {c: statistics.median(r["suite_s"] for r in results[c]) for c in LEVELS}
    best = {c: max(r["suite_clips_per_sec"] for r in results[c]) for c in LEVELS}
    best_walls = {c: min(r["suite_s"] for r in results[c]) for c in LEVELS}
    ratio = LEVELS[1] // LEVELS[0]
    # PAIRED per-rep efficiencies (ADVICE r1): each interleaved rep i gives
    # one efficiency sample eff_i = (thr_4N_i / thr_N_i) / ratio — both
    # measurements of a pair ran back-to-back under the same host
    # conditions, so the ratio is honest; the headline is the MEDIAN of the
    # per-rep efficiencies (min/max reported alongside), not a ratio of
    # independently-selected minima (which is biased upward).
    pair_effs = [
        (results[LEVELS[1]][i]["suite_clips_per_sec"]
         / results[LEVELS[0]][i]["suite_clips_per_sec"]) / ratio
        for i in range(reps)
    ]
    eff_paired = statistics.median(pair_effs)
    eff_med = (med[LEVELS[1]] / med[LEVELS[0]]) / ratio
    eff = (best[LEVELS[1]] / best[LEVELS[0]]) / ratio
    cal_eff_16_32 = round((cal[32] / cal[16]) / 2, 2)

    md = f"""# BENCH — scaling evidence (north_rule protocol)

**North metric**: validated clips/sec end-to-end, all checks enabled
(schema, row rules, stats, uniqueness, referential, frequency, drift with
full PCM decode + MFCC/log-mel features). No real cluster exists in this
sandbox, so the N→4N criterion is evidenced by the identical job at two
parallelism levels on the identical input ({N_CLIPS:,} synthetic clips,
durations {DUR[0]}–{DUR[1]} ms, WAV payloads, materialized parquet).

## Hardware calibration (why local[{LEVELS[0]}] → local[{LEVELS[1]}])

The VM exposes 32 vCPUs, but raw multiprocess decode throughput (pure
numpy, no Spark) stops scaling past ~16 processes — host oversubscription,
not engine behavior:

| processes | 1 | 4 | 8 | 16 | 32 |
|---|---|---|---|---|---|
| clips/sec aggregate | {cal[1]:.0f} | {cal[4]:.0f} | {cal[8]:.0f} | {cal[16]:.0f} | {cal[32]:.0f} |

16→32 hardware efficiency is {cal_eff_16_32} — the host cannot evidence a
4× level pair above ~8-16 cores, so the engine is measured at
local[{LEVELS[0]}] → local[{LEVELS[1]}], inside the linear region.

## Engine scaling ({reps}× interleaved, fresh JVM per measurement)

Protocol: each measurement is a fresh JVM running one untimed sampled
warmup suite (~5% of clips: codegen/worker/page-cache warm) then one timed
full suite. Levels are interleaved (N,4N,N,4N,...) so host noise hits both
equally. **The headline efficiency is the MEDIAN of paired per-rep
efficiencies**: each interleaved rep i yields one sample
eff_i = (thr_{LEVELS[1]},i / thr_{LEVELS[0]},i) / {ratio} measured
back-to-back under the same host conditions — no cross-rep ratio of
independently-selected minima (that estimator is biased upward). Best-of
and median-of-throughput ratios are reported alongside for context.

**Headline paired efficiency: {eff_paired:.2f}** (per-rep samples:
{[round(e, 2) for e in pair_effs]}, min {min(pair_effs):.2f},
max {max(pair_effs):.2f})

| | local[{LEVELS[0]}] | local[{LEVELS[1]}] | speedup | efficiency (÷{ratio}) |
|---|---|---|---|---|
| full suite best wall | {best_walls[LEVELS[0]]:.1f} s | {best_walls[LEVELS[1]]:.1f} s | | |
| validated clips/sec (best) | {best[LEVELS[0]]:.1f} | {best[LEVELS[1]]:.1f} | {best[LEVELS[1]] / best[LEVELS[0]]:.2f}× | {eff:.2f} |
| full suite median wall | {walls[LEVELS[0]]:.1f} s | {walls[LEVELS[1]]:.1f} s | | |
| validated clips/sec (median) | {med[LEVELS[0]]:.1f} | {med[LEVELS[1]]:.1f} | {med[LEVELS[1]] / med[LEVELS[0]]:.2f}× | {eff_med:.2f} |

Efficiency = (thr_{LEVELS[1]} / thr_{LEVELS[0]}) / ({LEVELS[1]}/{LEVELS[0]}).

Raw per-rep results: {json.dumps(results)}

Hardware calibration raw: {json.dumps(cal)}
"""
    out_name = os.environ.get("SPARK_GRAFT_SCALING_OUT", "BASELINE.md")
    Path(__file__).parent.joinpath(out_name).write_text(md)
    print(md)


if __name__ == "__main__":
    main()
