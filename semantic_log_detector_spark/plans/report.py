"""Run report: aggregate verdicts into run-level metric rows + markdown.

Recasts the reference's evaluator/report family (`src/ids/evaluator.py:
243-263`, `src/ids/report_generator.py:16-287` — dataset stats, results
tables, per-class detail, benchmark and robustness sections, observations)
for the validation engine: per-rule pass rates, severity rollup, worst
partitions, violation examples, per-check ledger timings, and the
robustness section when a robustness_report.json is present. Verdicts
(at most parts × rules rows per run) and the ledger are read once on the
driver and rolled up in Python; the violations are aggregated with Spark
and collected only at partition × severity granularity.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..schema import VIOLATION_SCHEMA

_N_WORST = 10
_N_EXAMPLES = 3
# [0-9], not \d: Python's \d also matches non-ASCII digits (Java's does not)
_FAKE_RE = re.compile(r"n_fake_decoded=([0-9]+)")


def summarize(spark: SparkSession, out_dir: str) -> dict:
    # verdicts are at most parts × rules rows per run: one driver-side read
    # (the same pyarrow read the ledger uses), every rollup in Python
    verdicts = _read_local(f"{out_dir}/verdicts", [
        "part_id", "rule_id", "passed", "n_rows", "n_violations", "observed"])
    by_rule: dict = {}
    for v in verdicts:
        n, passed, nv = by_rule.get(v["rule_id"], (0, 0, 0))
        by_rule[v["rule_id"]] = (n + 1, passed + v["passed"], nv + v["n_violations"])
    rules = [
        {"rule_id": rule, "partitions": n, "passed": passed,
         "pass_rate": round(passed / max(n, 1), 6), "violations": nv}
        for rule, (n, passed, nv) in sorted(by_rule.items())
    ]
    failed = sorted((v for v in verdicts if not v["passed"]),
                    key=lambda v: (v["rule_id"], v["part_id"]))[:1000]
    # dataset shape: distinct partitions and the row counts they carry
    # (part_id -1 is the plan-time schema check's global verdict, not data)
    part_rows: dict = {}
    for v in verdicts:
        if v["part_id"] >= 0:
            part_rows[v["part_id"]] = max(part_rows.get(v["part_id"], 0), v["n_rows"])
    report = {
        "dataset": {
            "n_parts": len(part_rows),
            "n_rows_total": sum(part_rows.values()),
            "min_part_rows": min(part_rows.values(), default=0),
            "max_part_rows": max(part_rows.values(), default=0),
        },
        "rules": rules,
        "failed_partitions": [
            {"part_id": v["part_id"], "rule_id": v["rule_id"], "observed": v["observed"]}
            for v in failed
        ],
        "overall_passed": all(r["passed"] == r["partitions"] for r in rules),
    }

    # corpus-wide fake-decode share (round-4 verdict #10): lenient-mode
    # R062 verdicts carry "n_fake_decoded=<n>" per partition — roll the
    # honesty margin up to ONE number so the opus/mp3 fake-featured share
    # is visible at suite level, not only per partition
    n_fake = n_fake_rows = 0
    for v in verdicts:
        m = (v["rule_id"] == "R062_codec_fidelity" and v["part_id"] >= 0
             and _FAKE_RE.search(v["observed"] or ""))
        if m:
            n_fake += int(m.group(1))
            n_fake_rows += v["n_rows"]
    if n_fake_rows:
        report["dataset"]["n_fake_decoded"] = n_fake
        report["dataset"]["fake_fraction"] = round(n_fake / n_fake_rows, 6)

    viol_path = f"{out_dir}/violations"
    if _has_parquet(viol_path):
        violations = spark.read.schema(VIOLATION_SCHEMA).parquet(viol_path)
        counts = (violations.groupBy("part_id", "severity")
                  .agg(F.count(F.lit(1)).alias("n")).collect())
        by_sev: dict = {}
        by_part: dict = {}
        for r in counts:
            by_sev[r["severity"]] = by_sev.get(r["severity"], 0) + r["n"]
            by_part[r["part_id"]] = by_part.get(r["part_id"], 0) + r["n"]
        report["severity"] = by_sev
        # most violations first, then part_id ascending with NULL first
        worst = sorted(by_part.items(),
                       key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or 0))
        report["worst_partitions"] = [
            {"part_id": p, "violations": n} for p, n in worst[:_N_WORST]
        ]
        # deterministic example rows per rule (min clip_id per rule first)
        ex = (
            violations.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("rule_id")
                    .orderBy(F.asc_nulls_last("clip_id"), "part_id")
                ),
            )
            .filter(F.col("rn") <= _N_EXAMPLES)
            .select("rule_id", "clip_id", "column", "observed", "expected", "explanation")
            .orderBy("rule_id", "clip_id")
            .collect()
        )
        report["examples"] = [
            {k: r[k] for k in ("rule_id", "clip_id", "column", "observed", "expected")}
            for r in ex
        ]

    # plan-build time per check (the ledger's wall_ms; checks fused into
    # one plan share one build time)
    ledger_path = f"{out_dir}/ledger"
    if _has_parquet(ledger_path):
        wall: dict = {}
        for r in _read_local(ledger_path, ["check_id", "wall_ms"]):
            wall[r["check_id"]] = max(wall.get(r["check_id"], 0.0), r["wall_ms"])
        report["timings_ms"] = {c: round(ms, 1) for c, ms in wall.items()}

    # streaming acoustic-dedup coverage (round-4 verdict #9): when both
    # the batch authority's pair table and the online twin's window
    # matches are in out_dir, quantify exactly what the online path did
    # NOT cover — the twin matches exact fingerprints within a window, so
    # Hamming-1..3 pairs and pairs straddling closed windows defer to
    # batch; those deferral counts belong in the run report, not only in
    # a docstring
    ab_path = f"{out_dir}/audio_dups_batch"
    ao_path = f"{out_dir}/audio_dups_online"
    if _has_parquet(ab_path) and _has_parquet(ao_path):
        brow = (
            spark.read.parquet(ab_path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum((F.col("hamming") > 0).cast("long")), F.lit(0)
                ).alias("h"),
            )
            .first()
        )
        orow = (
            spark.read.parquet(ao_path)
            .agg(
                F.coalesce(
                    F.sum(F.col("n_clips") * (F.col("n_clips") - 1) / 2),
                    F.lit(0.0),
                ).alias("n")
            )
            .first()
        )
        n_batch, n_h0plus = int(brow["n"]), int(brow["h"])
        n_online = int(orow["n"])
        deferred = max(0, n_batch - n_online)
        report["streaming_audio_dedup"] = {
            "batch_pairs": n_batch,
            "online_pairs": n_online,
            "deferred_pairs": deferred,
            "deferred_hamming_gt0": n_h0plus,
            "deferred_cross_window": max(0, deferred - n_h0plus),
        }

    rob_path = f"{out_dir}/robustness_report.json"
    if os.path.exists(rob_path):
        with open(rob_path) as f:
            report["robustness"] = json.load(f)

    # training-data sections: rendered when the curate pass left its
    # artifacts in the same out_dir (curation accounting + decontamination
    # counts from curation_summary.json, cluster table from dup_clusters/)
    cur_path = f"{out_dir}/curation_summary.json"
    if os.path.exists(cur_path):
        with open(cur_path) as f:
            report["curation"] = json.load(f)
    clus_path = f"{out_dir}/dup_clusters"
    if _has_parquet(clus_path):
        cl = spark.read.parquet(clus_path)
        sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
        tot = sizes.agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("size").alias("n_docs_in_clusters"),
            F.max("size").alias("max_cluster_size"),
        ).first()
        report["dup_clusters"] = {
            "n_clusters": int(tot["n_clusters"] or 0),
            "n_docs_in_clusters": int(tot["n_docs_in_clusters"] or 0),
            # one canonical survives per cluster; the rest are removed
            "n_docs_removed": int(
                (tot["n_docs_in_clusters"] or 0) - (tot["n_clusters"] or 0)
            ),
            "max_cluster_size": int(tot["max_cluster_size"] or 0),
            "largest": [
                {"cluster_id": r["cluster_id"], "size": r["size"]}
                for r in sizes.orderBy(F.desc("size"), F.asc("cluster_id"))
                .limit(_N_WORST).collect()
            ],
        }

    # incremental runs: the files ledger (plans/incremental.py) rolls up
    # to one row per increment plus the broken-immutability count — a
    # ledgered file reappearing with a DIFFERENT size means someone
    # mutated validated data
    fl_path = f"{out_dir}/files_ledger"
    if _has_parquet(fl_path):
        fl = spark.read.parquet(fl_path)
        incs = (
            fl.groupBy("run_id")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("size").alias("bytes"),
                 F.min("recorded_at").alias("at"))
            .orderBy("at")
            .collect()
        )
        mutated = (
            fl.groupBy("file")
            .agg(F.countDistinct("size").alias("n_sizes"))
            .filter(F.col("n_sizes") > 1)
            .count()
        )
        report["increments"] = {
            "n_increments": len(incs),
            "n_files_total": int(sum(r["n_files"] for r in incs)),
            "bytes_total": int(sum(r["bytes"] for r in incs)),
            "mutated_files": int(mutated),
            "runs": [
                {"run_id": r["run_id"], "n_files": r["n_files"],
                 "bytes": int(r["bytes"])}
                for r in incs
            ],
        }

    # ingest-time dup checks (validate_increment(dup_check=True)): per-feed
    # content-duplicate counts against the standing corpus, straight from
    # the pairs table — pair-count-sized, never payload-sized
    dup_path = f"{out_dir}/incremental_dups"
    # pairs live under incr=<fingerprint>/ partition dirs, one level down;
    # a clean feed writes an EMPTY pairs table, so feeds_checked counts
    # the dirs, not the groupBy rows
    n_feeds = (
        sum(d.startswith("incr=") for d in os.listdir(dup_path))
        if os.path.isdir(dup_path) else 0
    )
    if n_feeds:
        # mergeSchema (round 6, ADVICE #3): with mixed pre-round-5 (no
        # axis column) and newer partition dirs, a single sampled footer
        # would silently drop the axis breakdown; merged, old rows surface
        # with a NULL axis which is folded into an explicit 'unknown' key
        dup = spark.read.option("mergeSchema", "true").parquet(dup_path)
        has_axis = "axis" in dup.columns  # pre-round-5 pairs have no axis
        if has_axis:
            dup = dup.withColumn("axis", F.coalesce("axis", F.lit("unknown")))
        keys = (["axis", "match_kind"] if has_axis else ["match_kind"])
        rows = dup.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
        kinds: dict = {}
        by_axis: dict = {}
        for r in rows:
            kinds[r["match_kind"]] = kinds.get(r["match_kind"], 0) + r["n"]
            if has_axis:
                ax = by_axis.setdefault(r["axis"], {})
                ax[r["match_kind"]] = r["n"]
        report["incremental_dups"] = {
            "n_pairs_existing": int(kinds.get("existing", 0)),
            "n_pairs_within_feed": int(kinds.get("increment", 0)),
            "feeds_checked": n_feeds,
            **({"by_axis": by_axis} if has_axis else {}),
        }
    return report


def _read_local(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=columns).to_pylist()


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def _md(report: dict) -> str:
    lines = ["# Validation run report", ""]
    ds = report.get("dataset", {})
    lines += [
        "## 1. Dataset",
        "",
        f"- partitions: **{ds.get('n_parts', 0)}**",
        f"- rows validated: **{ds.get('n_rows_total', 0):,}**"
        f" (per-partition {ds.get('min_part_rows', 0):,}–{ds.get('max_part_rows', 0):,})",
    ]
    if "n_fake_decoded" in ds:
        lines.append(
            f"- fake-decoded payloads: **{ds['n_fake_decoded']:,}** "
            f"({100.0 * ds.get('fake_fraction', 0.0):.2f}% of rows — codecs "
            "with no in-container decoder route through the deterministic "
            "fake; their features are NOT real audio)"
        )
    lines += [
        "",
        "## 2. Rule results",
        "",
        "| rule | partitions | passed | pass rate | violations |",
        "|---|---|---|---|---|",
    ]
    for r in report["rules"]:
        lines.append(
            f"| {r['rule_id']} | {r['partitions']} | {r['passed']} "
            f"| {r['pass_rate']:.4f} | {r['violations']} |"
        )
    if report.get("severity"):
        lines += ["", "## 3. Violations by severity", ""]
        lines += ["| severity | count |", "|---|---|"]
        for sev in ("Critical", "High", "Medium", "Low"):
            if sev in report["severity"]:
                lines.append(f"| {sev} | {report['severity'][sev]} |")
    if report.get("worst_partitions"):
        lines += ["", "## 4. Worst partitions", ""]
        lines += ["| part_id | violations |", "|---|---|"]
        for w in report["worst_partitions"]:
            lines.append(f"| {w['part_id']} | {w['violations']} |")
    if report.get("examples"):
        lines += ["", "## 5. Example violations", ""]
        lines += ["| rule | clip | column | observed | expected |", "|---|---|---|---|---|"]
        for e in report["examples"]:
            obs = str(e["observed"])[:60] if e["observed"] is not None else ""
            lines.append(
                f"| {e['rule_id']} | {e['clip_id']} | {e['column']} "
                f"| {obs} | {str(e['expected'])[:40]} |"
            )
    if report.get("timings_ms"):
        lines += ["", "## 6. Check timings", ""]
        lines += ["Plan-build time only: execution runs in one batched action "
                  "per wave. Checks fused into one shared plan share its "
                  "build time.", ""]
        lines += ["| check | plan build ms |", "|---|---|"]
        for check, ms in sorted(report["timings_ms"].items()):
            lines.append(f"| {check} | {ms:.0f} |")
    rob = report.get("robustness")
    if rob:
        lines += [
            "",
            "## 7. Robustness",
            "",
            f"- overall robustness score: **{rob.get('overall_robustness_score')}**",
            "",
            "| noise level | mean stability | detection retention |",
            "|---|---|---|",
        ]
        for t in rob.get("noise_tests", []):
            s = t.get("summary", {})
            lines.append(
                f"| {t['noise_level']} | {s.get('mean_stability')} "
                f"| {s.get('detection_retention')} |"
            )
    cur = report.get("curation")
    if cur:
        lines += [
            "",
            "## 8. Training-data curation",
            "",
            f"- kept documents: **{cur.get('n_docs', 0):,}**",
            f"- total tokens: **{int(cur.get('total_tokens') or 0):,}**"
            f" (avg {cur.get('avg_tokens')})",
            f"- mean quality: **{cur.get('avg_quality')}**",
        ]
        ds_ = cur.get("drop_stats") or {}
        if "decontaminated_docs" in ds_:
            lines.append(
                f"- decontamination: **{ds_['decontaminated_docs']:,}** "
                "document(s) removed for benchmark overlap"
            )
        drops = {
            k: v for k, v in ds_.items()
            if k not in ("persisted", "decontaminated_docs")
            and isinstance(v, (int, float))
        }
        if drops:
            lines += ["- dedup guard accounting:"]
            for k, v in sorted(drops.items()):
                lines.append(f"  - {k}: {v}")
    dc = report.get("dup_clusters")
    if dc:
        lines += [
            "",
            "## 9. Duplicate clusters",
            "",
            f"- clusters: **{dc['n_clusters']:,}** covering "
            f"{dc['n_docs_in_clusters']:,} documents "
            f"(**{dc['n_docs_removed']:,}** removed, one canonical kept per cluster)",
            f"- largest cluster: {dc['max_cluster_size']} documents",
            "",
            "| cluster_id | size |",
            "|---|---|",
        ]
        for c in dc["largest"]:
            lines.append(f"| {c['cluster_id']} | {c['size']} |")
    sad = report.get("streaming_audio_dedup")
    if sad:
        lines += [
            "",
            "## 10. Streaming acoustic dedup coverage",
            "",
            f"- batch-confirmed duplicate pairs: **{sad['batch_pairs']:,}**",
            f"- found online (exact-fingerprint, in-window): "
            f"**{sad['online_pairs']:,}**",
            f"- deferred to the batch authority: **{sad['deferred_pairs']:,}**"
            f" — {sad['deferred_hamming_gt0']:,} at Hamming 1–3 (the online"
            " twin matches exact fingerprints only) and"
            f" {sad['deferred_cross_window']:,} crossing window boundaries"
            " past the watermark",
        ]
    inc = report.get("increments")
    if inc:
        lines += [
            "",
            "## 11. Incremental validation",
            "",
            f"- increments: **{inc['n_increments']}** covering "
            f"**{inc['n_files_total']:,}** files "
            f"({inc['bytes_total']:,} bytes)",
        ]
        idup = report.get("incremental_dups")
        if idup:
            lines.append(
                f"- ingest dup-check over {idup['feeds_checked']} feed(s): "
                f"**{idup['n_pairs_existing']}** duplicate(s) of the "
                f"standing corpus, {idup['n_pairs_within_feed']} within-feed"
            )
        if inc["mutated_files"]:
            lines.append(
                f"- **BROKEN IMMUTABILITY: {inc['mutated_files']} file(s) "
                "re-appeared with a different size** — validated data was "
                "mutated in place; their earlier verdicts no longer "
                "describe the current bytes"
            )
        lines += ["", "| run_id | files | bytes |", "|---|---|---|"]
        for r in inc["runs"]:
            lines.append(f"| {r['run_id']} | {r['n_files']} | {r['bytes']:,} |")
    # observations — the reference report always closes with findings
    lines += ["", "## Observations", ""]
    failed_rules = [r for r in report["rules"] if r["passed"] < r["partitions"]]
    if not failed_rules:
        lines.append("- all rules passed on every partition")
    for r in failed_rules:
        lines.append(
            f"- **{r['rule_id']}** failed on {r['partitions'] - r['passed']} "
            f"partition(s) with {r['violations']} violation(s)"
        )
    lines.append("")
    lines.append(f"**Overall: {'PASS' if report['overall_passed'] else 'FAIL'}**")
    return "\n".join(lines) + "\n"


def write_report(spark: SparkSession, out_dir: str) -> dict:
    report = summarize(spark, out_dir)
    with open(f"{out_dir}/report.json", "w") as f:
        json.dump(report, f, indent=2)
    with open(f"{out_dir}/report.md", "w") as f:
        f.write(_md(report))
    return report
