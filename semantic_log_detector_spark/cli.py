"""spark-submit entry point.

Cluster usage (north_rule):

    spark-submit --py-files semantic_log_detector_spark.zip \
        -m semantic_log_detector_spark.cli run \
        --input /path/to/clips_table --transcripts /path/to/transcripts \
        --out /path/to/run_output --waves 8

Local/demo usage (synthesizes the deterministic clip table):

    python -m semantic_log_detector_spark.cli run --n-clips 20000 --out /tmp/out
"""

from __future__ import annotations

import argparse
import os
import sys

from .plans.report import write_report
from .plans.runner import SuiteConfig, run_suite
from .session import get_spark
from .sources.synth import clips_table, transcripts_table


def _session(master):
    """(spark, owned): only stop sessions this process created — embedding
    callers (tests, notebooks) keep theirs."""
    from pyspark.sql import SparkSession

    # getActiveSession is thread-local; the process-wide singleton is only
    # reachable through a private attribute, so read it defensively: if the
    # attribute vanishes in a future PySpark, treat the session as NOT
    # owned (never stop a session we cannot prove we created) — a leaked
    # session on CLI exit is recoverable, stopping an embedding caller's
    # session is not.
    proc_wide = getattr(SparkSession, "_instantiatedSession", "unknown")
    owned = SparkSession.getActiveSession() is None and proc_wide is None
    return get_spark(master=master), owned


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="semantic_log_detector_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="run the validation suite")
    run.add_argument("--input", help="clips table path (parquet/iceberg); omit to synthesize")
    run.add_argument("--transcripts", help="transcripts table path")
    run.add_argument("--n-clips", type=int, default=20_000, help="synthetic table size")
    run.add_argument("--out", required=True)
    run.add_argument("--num-parts", type=int, default=64)
    run.add_argument("--waves", type=int, default=1)
    run.add_argument("--max-waves", type=int, default=None)
    run.add_argument("--checks", default=",".join(SuiteConfig().checks))
    run.add_argument("--config", help="checks.yaml / checks.json (overrides other check flags)")
    run.add_argument("--incremental", action="store_true",
                     help="validate only files added to --input since the "
                          "last run (files ledger + stored drift baseline "
                          "under --out); --input must be a parquet dir")
    run.add_argument("--ann-index", action="store_true",
                     help="with --incremental: append each increment's "
                          "clips into the standing ANN indexes under "
                          "<out>/ann_index (PQ acoustic-embedding codes + "
                          "snippet-search landmarks; plans/ann_index.py)")
    run.add_argument("--dup-check", action="store_true",
                     help="with --incremental --ann-index: match the "
                          "increment's acoustic + transcript fingerprints "
                          "against the whole standing corpus (no "
                          "old-payload decodes) and write duplicate pairs "
                          "per axis to <out>/incremental_dups/")
    run.add_argument("--quarantine", action="store_true",
                     help="after the suite, write <out>/clean and "
                          "<out>/quarantined corpus views (quarantined rows "
                          "carry their violation rule sets)")
    run.add_argument("--master", default=None)
    rob = sub.add_parser(
        "robustness",
        help="noise grid × seeds → drift-verdict stability report "
             "(reference src/ids/robustness.py stage)",
    )
    rob.add_argument("--input", help="clips table path; omit to synthesize")
    rob.add_argument("--n-clips", type=int, default=20_000)
    rob.add_argument("--out", required=True)
    rob.add_argument("--num-parts", type=int, default=64)
    rob.add_argument("--noise-levels", default="0.01,0.05,0.1")
    rob.add_argument("--perturbations", type=int, default=3)
    rob.add_argument("--seed", type=int, default=42)
    rob.add_argument("--master", default=None)
    cur = sub.add_parser(
        "curate",
        help="training-set curation: near-dup canonicalization + language "
             "filter + quality floor over a documents table",
    )
    cur.add_argument("--input", required=True, help="documents table (parquet/csv/json)")
    cur.add_argument("--out", required=True)
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")
    cur.add_argument("--langs", default="en", help="comma list; empty = keep all")
    cur.add_argument("--min-quality", type=float, default=0.5)
    cur.add_argument("--jaccard-threshold", type=float, default=0.7)
    cur.add_argument("--exact-pairs", action="store_true",
                     help="exact inverted-index pair graph (small corpora); "
                          "default MinHash-LSH")
    cur.add_argument("--benchmark", default=None,
                     help="benchmark table (same format as --input): kept docs "
                          "containing >= --min-containment of any benchmark "
                          "doc's shingles are removed (decontamination)")
    cur.add_argument("--min-containment", type=float, default=0.8)
    cur.add_argument("--max-ppl", type=float, default=None,
                     help="drop docs whose corpus bigram-LM perplexity "
                          "exceeds this (word-order quality gate)")
    cur.add_argument("--cc-max-iters", type=int, default=25,
                     help="connected-components round cap (pointer jumping: "
                          "handles cluster diameter up to ~2^N)")
    cur.add_argument("--master", default=None)
    cmp = sub.add_parser(
        "compare",
        help="run-over-run quality diff between two completed run dirs",
    )
    cmp.add_argument("prev", help="previous run --out dir")
    cmp.add_argument("cur", help="current run --out dir")
    cmp.add_argument("--tolerance", type=float, default=0.0,
                     help="pass-rate slack treated as STABLE")
    cmp.add_argument("--master", default=None)

    # corpus-transform family: parquet in → parquet (or tar shards) out
    for name, help_ in (
        ("segment", "cut VAD speech segments into utterance rows"),
        ("augment", "expand the corpus with deterministic augmentations"),
        ("features", "export MFCC frame tensors (+ corpus CMVN stats)"),
        ("wds-export", "write the corpus as WebDataset tar shards"),
        ("wds-import", "read a WebDataset shard dir into a parquet clip table"),
    ):
        p = sub.add_parser(name, help=help_)
        p.add_argument("--input", required=True,
                       help="clips parquet path (wds-import: shard dir)")
        p.add_argument("--out", required=True,
                       help="output parquet path (wds-export: shard dir)")
        p.add_argument("--master", default=None)
        if name == "segment":
            p.add_argument("--max-segment-s", type=float, default=None)
            p.add_argument("--pad-ms", type=float, default=100.0)
        elif name == "augment":
            p.add_argument("--specs", default="sp0.9,sp1.1,n20db",
                           help="comma list: sp<factor> | g<db>db | n<snr>db | "
                                "rms<dbfs> | lufs<target> | r<target_hz>")
        elif name == "features":
            p.add_argument("--kind", choices=("mfcc", "logmel"), default="mfcc")
            p.add_argument("--cmvn", action="store_true",
                           help="also write <out>_cmvn stats parquet")
        elif name == "wds-export":
            p.add_argument("--shards", type=int, default=None)

    opt = sub.add_parser(
        "optimize",
        help="layout maintenance: compact small files, or Z-order cluster "
             "for multi-column scan pruning (plans/layout.py)",
    )
    opt.add_argument("--input", required=True, help="clips parquet path")
    opt.add_argument("--out", required=True,
                     help="rewritten table path (never in place)")
    opt.add_argument("--zorder", default=None,
                     help="comma list of numeric columns to cluster by; "
                          "omit for plain compaction")
    opt.add_argument("--target-mb", type=int, default=256,
                     help="target output file size")
    opt.add_argument("--master", default=None)

    sk = sub.add_parser(
        "sketch-rollup",
        help="corpus-lifetime stats + R090 duplicate-feed overlap from the "
             "incremental sketch state (plans/sketch_state.py)",
    )
    sk.add_argument("--out", required=True,
                    help="incremental run --out dir holding sketch_state")
    sk.add_argument("--threshold", type=float, default=0.5,
                    help="R090 overlap_ratio threshold")
    sk.add_argument("--master", default=None)

    st = sub.add_parser(
        "stream",
        help="online validation over a watch directory: row rules + "
             "windowed duplicate-id / speech-health / vocab-drift twins "
             "(streaming/stream_checks.py) with exactly-once checkpoints",
    )
    st.add_argument("--watch", required=True,
                    help="directory of parquet clip files; new files are "
                         "picked up as micro-batches (schema from the files "
                         "already present)")
    st.add_argument("--out", required=True,
                    help="sink dir: violations/ dup_ids/ [speech_health/ "
                         "vocab_drift/] + stream_report.json; checkpoints "
                         "live under <out>/_checkpoints so a later run "
                         "resumes exactly-once")
    st.add_argument("--ts-col", default="ts", help="event-time column")
    st.add_argument("--window", default="60 seconds")
    st.add_argument("--watermark", default="2 minutes",
                    help="late-data allowance; windows older than the "
                         "watermark close and flush to the sinks — windows "
                         "still open when an --once run drains stay pending "
                         "in the checkpoint for the NEXT run (documented "
                         "deferral, never a silent drop)")
    st.add_argument("--num-parts", type=int, default=64)
    st.add_argument("--payload", action="store_true",
                    help="also run the one-decode payload rules (R060-R067) "
                         "and the windowed speech-health monitor on the "
                         "bytes column")
    st.add_argument("--vocab-baseline", default=None,
                    help="batch table (parquet/csv/json) whose transcript "
                         "vocabulary is the R091 drift baseline; enables "
                         "the windowed vocab-PSI twin")
    st.add_argument("--follow", action="store_true",
                    help="keep watching for new files until --timeout-s "
                         "(default: drain what is present and exit)")
    st.add_argument("--timeout-s", type=float, default=60.0,
                    help="--follow mode: stop after this many seconds")
    st.add_argument("--master", default=None)

    dc = sub.add_parser(
        "datacard",
        help="corpus datasheet: counts, codec mix, duration/speech/loudness "
             "distributions, acoustic-dup rate -> datacard.json + .md",
    )
    dc.add_argument("--input", required=True, help="clips parquet path")
    dc.add_argument("--out", required=True, help="output dir")
    dc.add_argument("--with-pitch", action="store_true",
                    help="add F0/voicing percentiles + flat-pitch "
                         "contamination share (extra FFT per clip)")
    dc.add_argument("--master", default=None)

    args = ap.parse_args(argv)

    if args.cmd == "optimize":
        # NOTE: no local `import os` here — a function-local import would
        # make `os` local to ALL of main() and break the module-level
        # uses in the `run` branch (UnboundLocalError)
        import math

        from .plans.layout import cluster_zorder, compact_files

        spark, owned = _session(args.master)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            if args.zorder:
                total = sum(
                    os.path.getsize(os.path.join(r, n))
                    for r, _, ns in os.walk(args.input) for n in ns
                    if n.endswith(".parquet") and not n.startswith(("_", ".")))
                n_files = max(1, math.ceil(total / (args.target_mb * 1024 * 1024)))
                cluster_zorder(spark.read.parquet(args.input),
                               args.zorder.split(","), args.out,
                               n_files=n_files)
                print(f"z-ordered by [{args.zorder}] into {n_files} files "
                      f"-> {args.out}")
            else:
                st = compact_files(spark, args.input, args.out,
                                   target_mb=args.target_mb)
                print(f"compacted {st['files_before']} files "
                      f"({st['bytes_before'] >> 20} MiB) -> "
                      f"{st['files_after']} files -> {args.out}")
            return 0
        finally:
            if owned:
                spark.stop()

    if args.cmd == "sketch-rollup":
        from .plans.sketch_state import corpus_rollup, feed_overlap

        spark, owned = _session(args.master)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            r = corpus_rollup(spark, args.out).collect()[0]
            print(f"increments={r['n_increments']} rows={r['total_rows']} "
                  f"distinct_ids~{int(r['distinct_clip_ids'])} "
                  f"dup_ratio={r['duplicate_ratio']:.4f} "
                  f"dur_ms p50/p95/p99={r['dur_ms_p50']}/{r['dur_ms_p95']}"
                  f"/{r['dur_ms_p99']}")
            flagged = 0
            for o in feed_overlap(spark, args.out, args.threshold).collect():
                mark = "ok" if o["passed"] else "R090 DUPLICATE-FEED"
                flagged += 0 if o["passed"] else 1
                print(f"  {o['run_id']}  rows={o['n_rows']} "
                      f"overlap={o['overlap_ratio']:.3f}  {mark}")
            return 1 if flagged else 0
        finally:
            if owned:
                spark.stop()

    if args.cmd == "datacard":
        from .plans.datacard import write_datacard

        spark, owned = _session(args.master)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            card = write_datacard(spark.read.parquet(args.input), args.out,
                                  with_pitch=args.with_pitch)
            c = card["counts"]
            print(f"clips={c['total_clips']} decodable={c['decodable']} "
                  f"fake={c['fake_decoded']} undecodable={c['undecodable']} "
                  f"audio_h={card['hours']['audio']} -> {args.out}/datacard.md")
            return 0
        finally:
            if owned:
                spark.stop()

    if args.cmd == "stream":
        return _run_stream(args)

    if args.cmd in ("segment", "augment", "features", "wds-export", "wds-import"):
        return _run_transform(args)

    if args.cmd == "robustness":
        return _run_robustness(args)
    if args.cmd == "curate":
        return _run_curate(args)
    if args.cmd == "compare":
        from .plans.compare import compare_runs

        spark, owned = _session(args.master)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            rows = compare_runs(spark, args.prev, args.cur, args.tolerance).collect()
            for r in rows:
                print(f"{r['rule_id']:32s} {str(r['pass_rate_prev']):>10s} -> "
                      f"{str(r['pass_rate_cur']):>10s}  "
                      f"viol {str(r['n_violations_prev']):>8s} -> "
                      f"{str(r['n_violations_cur']):>8s}  {r['status']}")
            n_reg = sum(r["status"] == "REGRESSED" for r in rows)
            print(f"regressed={n_reg}")
            return 1 if n_reg else 0
        finally:
            if owned:
                spark.stop()

    spark, owned = _session(args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.input:
            from .sources.files import read_file

            clips = read_file(spark, args.input)
            fingerprint = args.input
            transcripts = (
                read_file(spark, args.transcripts) if args.transcripts else None
            )
        else:
            clips = clips_table(spark, args.n_clips, num_parts=args.num_parts)
            transcripts = transcripts_table(spark, args.n_clips)
            fingerprint = f"synth:{args.n_clips}"
        if args.config:
            from .config import load_config

            cfg = load_config(args.config)
        else:
            cfg = SuiteConfig(
                num_parts=args.num_parts,
                waves=args.waves,
                checks=tuple(args.checks.split(",")),
            )
        if args.ann_index and not args.incremental:
            print("--ann-index rides the increment boundary: use it with "
                  "--incremental")
            return 2
        if args.dup_check and not (args.incremental and args.ann_index):
            print("--dup-check rides the standing fingerprint state: use "
                  "it with --incremental --ann-index")
            return 2
        if args.incremental:
            if not (args.input and os.path.isdir(args.input)):
                print("--incremental needs --input pointing at a parquet dir")
                return 2
            if args.quarantine:
                print("--incremental and --quarantine don't compose: "
                      "quarantine the full table from the accumulated "
                      "violations instead")
                return 2
            from .plans.incremental import validate_increment

            ann = None
            if args.ann_index:
                from .plans.ann_index import AnnIndexConfig

                ann = AnnIndexConfig()
            n_new, result = validate_increment(
                spark, args.input, args.out, cfg, transcripts, ann=ann,
                dup_check=args.dup_check)
            if result is None:
                print("no new files since the last increment")
                return 0
            print(f"incremental: {n_new} new files")
            if result.dup_check is not None:
                d = result.dup_check
                per_axis = ", ".join(
                    f"{ax}: {v['existing']}+{v['increment']}"
                    for ax, v in d["by_axis"].items())
                print(f"dup-check: {d['existing']} duplicate(s) of the "
                      f"standing corpus, {d['increment']} within the feed "
                      f"({per_axis}) -> {d['path']}")
        else:
            result = run_suite(
                spark, clips, transcripts, args.out, cfg,
                input_fingerprint=fingerprint, max_waves=args.max_waves,
            )
        report = write_report(spark, args.out)
        qmsg = ""
        if args.quarantine:
            from .plans.quarantine import split_quarantine

            viol = spark.read.parquet(os.path.join(args.out, "violations"))
            qr = split_quarantine(clips, viol)
            qr.quarantined.write.mode("overwrite").parquet(
                os.path.join(args.out, "quarantined"))
            qr.clean.write.mode("overwrite").parquet(os.path.join(args.out, "clean"))
            qmsg = (f" quarantined={spark.read.parquet(os.path.join(args.out, 'quarantined')).count()}"
                    f" clean={spark.read.parquet(os.path.join(args.out, 'clean')).count()}")
        print(
            f"run={result.run_id} waves={result.waves_run} checks={result.checks_run} "
            f"wall={result.wall_s:.1f}s overall={'PASS' if report['overall_passed'] else 'FAIL'}"
            f"{qmsg}"
        )
        return 0
    finally:
        if owned:
            spark.stop()


def _run_stream(args) -> int:
    """`stream` subcommand: the library's streaming twins behind one CLI.

    One Structured Streaming source (file watch dir), four independent
    sink queries, each exactly-once via its own checkpoint:

      violations/     stateless row rules (stream_row_violations), plus
                      the one-decode payload rules when --payload
      dup_ids/        windowed clip_id-uniqueness twin (bounded state;
                      cross-window dups defer to the batch check)
      speech_health/  windowed decode/speech/fake monitor (--payload)
      vocab_drift/    windowed R091 vocab PSI vs a batch baseline
                      (--vocab-baseline)

    Default is drain-and-exit (trigger availableNow): validate every file
    currently in --watch, flush windows the watermark has passed, leave
    still-open windows pending in the checkpoint for the next invocation —
    the same deferral contract the streaming twins document against their
    batch authorities. stream_report.json summarizes the run's sinks.
    """
    import json

    from pyspark.sql import functions as F

    from .checks.base import RunContext
    from .checks.row_rules import default_clip_rules
    from .streaming.stream_checks import (
        stream_duplicate_ids,
        stream_payload_violations,
        stream_row_violations,
        stream_speech_health,
        stream_vocab_drift,
        vocab_bucket_counts,
    )

    spark, owned = _session(args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        try:
            schema = spark.read.parquet(args.watch).schema
        except Exception:
            print(f"--watch {args.watch} has no readable parquet files yet; "
                  "drop at least one file first (its schema seeds the stream)")
            return 2
        if args.ts_col not in schema.fieldNames():
            print(f"--watch files carry no {args.ts_col!r} event-time column")
            return 2
        stream = spark.readStream.schema(schema).parquet(args.watch)
        ctx = RunContext(run_id="stream", num_parts=args.num_parts)
        rules = default_clip_rules()
        ckpt = f"{args.out}/_checkpoints"
        queries = []

        def start(df, name):
            w = (df.writeStream.format("parquet")
                 .option("path", f"{args.out}/{name}")
                 .option("checkpointLocation", f"{ckpt}/{name}"))
            if not args.follow:
                w = w.trigger(availableNow=True)
            queries.append((name, w.start()))

        viol = stream_row_violations(stream, rules, ctx)
        if args.payload and "bytes" in schema.fieldNames():
            # payload rules emit the sparse 5-column shape; pad to the row
            # rules' full violation schema so one sink holds both
            viol = viol.unionByName(
                stream_payload_violations(stream, ctx, wps_range=(0.3, 6.0)),
                allowMissingColumns=True,
            )
        start(viol, "violations")
        start(
            stream_duplicate_ids(stream, "clip_id", args.ts_col,
                                 window=args.window,
                                 watermark=args.watermark),
            "dup_ids")
        if args.payload and "bytes" in schema.fieldNames():
            start(
                stream_speech_health(stream, ts_col=args.ts_col,
                                     window=args.window,
                                     watermark=args.watermark),
                "speech_health")
        if args.vocab_baseline:
            from .sources.files import read_file

            baseline = vocab_bucket_counts(read_file(spark, args.vocab_baseline))
            start(
                stream_vocab_drift(stream, baseline, ts_col=args.ts_col,
                                   window=args.window,
                                   watermark=args.watermark),
                "vocab_drift")

        if args.follow:
            import time as _time

            deadline = _time.time() + args.timeout_s
            for _name, q in queries:
                q.awaitTermination(max(0.0, deadline - _time.time()))
            for _name, q in queries:
                q.stop()
            for _name, q in queries:
                q.awaitTermination()
        else:
            for _name, q in queries:
                q.awaitTermination()

        report: dict = {"mode": "follow" if args.follow else "drain",
                        "watch": args.watch, "sinks": {}}
        summary_bits = []
        for name, _q in queries:
            try:
                df = spark.read.parquet(f"{args.out}/{name}")
                n = df.count()
            except Exception:
                n = 0
            sink: dict = {"rows": n}
            if n and name == "violations":
                sink["by_rule"] = {
                    r["rule_id"]: r["n"]
                    for r in df.groupBy("rule_id")
                    .agg(F.count(F.lit(1)).alias("n")).collect()
                }
            if n and name == "vocab_drift":
                sink["windows_failed"] = df.filter("not passed").count()
            report["sinks"][name] = sink
            summary_bits.append(f"{name}={n}")
        with open(f"{args.out}/stream_report.json", "w") as f:
            json.dump(report, f, indent=2, default=str)
        print("stream: " + " ".join(summary_bits)
              + f" report={args.out}/stream_report.json")
        return 0
    finally:
        if owned:
            spark.stop()


def _run_robustness(args) -> int:
    from .checks.base import RunContext
    from .plans.robustness import run_robustness

    spark, owned = _session(args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.input:
            from .sources.files import read_file

            clips = read_file(spark, args.input)
        else:
            clips = clips_table(spark, args.n_clips, num_parts=args.num_parts)
        ctx = RunContext(run_id="robustness", num_parts=args.num_parts)
        res = run_robustness(
            clips, ctx,
            noise_levels=tuple(float(x) for x in args.noise_levels.split(",")),
            num_perturbations=args.perturbations,
            base_seed=args.seed,
            out_dir=args.out,
        )
        print(
            f"overall_robustness_score={res['overall_robustness_score']} "
            f"report={args.out}/robustness_report.json"
        )
        return 0
    finally:
        if owned:
            spark.stop()


def _run_curate(args) -> int:
    import json

    from .operators.curate import curate_documents, curation_summary
    from .sources.files import read_file

    spark, owned = _session(args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        docs = read_file(spark, args.input)
        langs = tuple(x for x in args.langs.split(",") if x)
        drop_stats: dict = {}
        if args.benchmark:
            from .operators.dedup import decontaminate

            # decontaminate persists + counts the tiny flagged-id set into
            # drop_stats, so the contamination join runs once — no extra
            # full-corpus count passes here
            docs = decontaminate(
                docs, read_file(spark, args.benchmark),
                text_col=args.text_col, id_col=args.id_col,
                drop_stats=drop_stats,
                min_containment=args.min_containment,
            )
        artifacts: dict = {}
        kept = curate_documents(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            langs=langs,
            min_quality=args.min_quality,
            jaccard_threshold=args.jaccard_threshold,
            exact_pairs=args.exact_pairs,
            cc_max_iters=args.cc_max_iters,
            max_ppl=args.max_ppl,
            drop_stats=drop_stats,
            artifacts=artifacts,
        )
        kept.write.mode("overwrite").parquet(f"{args.out}/kept")
        # persist the duplicate-cluster table (edge-scale) so the run
        # report can render the dup-cluster summary section
        artifacts["clusters"].write.mode("overwrite").parquet(
            f"{args.out}/dup_clusters"
        )
        # deterministic cache release between corpus passes: every persist
        # the dedup/decontamination operators took is recorded in
        # drop_stats['persisted'] — free them now that kept/ is on disk
        from .operators.dedup import unpersist_all

        summary = curation_summary(spark.read.parquet(f"{args.out}/kept")).first().asDict()
        summary["released_caches"] = unpersist_all(drop_stats)
        summary["drop_stats"] = drop_stats
        with open(f"{args.out}/curation_summary.json", "w") as f:
            json.dump(summary, f, indent=2, default=str)
        print(
            f"kept={summary['n_docs']} total_tokens={summary['total_tokens']} "
            f"avg_quality={summary['avg_quality']} out={args.out}/kept"
        )
        return 0
    finally:
        if owned:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())


def _parse_aug_specs(spec_str: str):
    """'sp0.9,g6db,n20db,rms-20,lufs-23' → AugSpec tuple."""
    from .operators.augment import AugSpec

    specs = []
    for tok in (t.strip() for t in spec_str.split(",") if t.strip()):
        if tok.startswith("sp"):
            specs.append(AugSpec(tok, "speed", {"factor": float(tok[2:])}))
        elif tok.startswith("lufs"):
            specs.append(AugSpec(tok, "lufs_norm", {"target_lufs": float(tok[4:])}))
        elif tok.startswith("rms"):
            specs.append(AugSpec(tok, "rms_norm", {"target_dbfs": float(tok[3:])}))
        elif tok.startswith("r") and tok[1:].isdigit():
            specs.append(AugSpec(tok, "resample", {"target_hz": int(tok[1:])}))
        elif tok.startswith("n") and tok.endswith("db"):
            specs.append(AugSpec(tok, "noise", {"snr_db": float(tok[1:-2])}))
        elif tok.startswith("g") and tok.endswith("db"):
            specs.append(AugSpec(tok, "gain", {"db": float(tok[1:-2])}))
        else:
            raise SystemExit(f"unknown augmentation spec {tok!r}")
    return tuple(specs)


def _run_transform(args) -> int:
    """Corpus-transform subcommands: one operator, parquet/shards in → out,
    accounting on stdout (ok/not-ok counts — the no-silent-drops contract
    made visible at the CLI)."""
    spark, owned = _session(args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "wds-import":
            from .sources.webdataset import read_webdataset

            df = read_webdataset(spark, args.input)
            df.write.mode("overwrite").parquet(args.out)
            print(f"imported={spark.read.parquet(args.out).count()}")
            return 0

        clips = spark.read.parquet(args.input)
        if args.cmd == "wds-export":
            from .sources.webdataset import write_webdataset

            n = write_webdataset(clips, args.out, shards=args.shards)
            print(f"shards={n} clips={clips.count()}")
            return 0
        if args.cmd == "segment":
            from .operators.segment import cut_segments

            out = cut_segments(clips, pad_ms=args.pad_ms,
                               max_segment_s=args.max_segment_s)
        elif args.cmd == "augment":
            from .operators.augment import augment_clips

            out = augment_clips(clips, specs=_parse_aug_specs(args.specs))
        else:  # features
            from .operators.features import extract_features

            out = extract_features(clips, kind=args.kind)
        out.write.mode("overwrite").parquet(args.out)
        res = spark.read.parquet(args.out)
        n_ok = res.filter("ok").count()
        n_bad = res.filter("not ok").count()
        print(f"rows={n_ok + n_bad} ok={n_ok} not_ok={n_bad}")
        if args.cmd == "features" and args.cmvn:
            from .operators.features import cmvn_stats

            cmvn_stats(res).write.mode("overwrite").parquet(args.out + "_cmvn")
            print(f"cmvn_stats={args.out}_cmvn")
        return 0
    finally:
        if owned:
            spark.stop()
