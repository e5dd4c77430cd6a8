"""Output checks that do not use the engine: every expected value is
recounted from the fixture files with pyarrow, and the engine's outputs
are read back with pyarrow. Each function returns a list of error
strings; an empty list means the operation's outputs are correct."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from .fixtures import DRIFT_PARTS, EN_STOPWORDS

R_UNIQUE = "R020_unique_clip_id"
R_MISSING = "R030_transcript_missing"
R_ORPHAN = "R031_transcript_orphan"
R_DRIFT = ("R050_drift_psi", "R051_drift_ks")
EN_STOPWORDS_SET = frozenset(EN_STOPWORDS)


def read(path, columns=None) -> pa.Table:
    return ds.dataset(str(path), format="parquet").to_table(columns=columns)


def _value_counts(arr) -> dict:
    vc = pc.value_counts(arr)
    return dict(zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()))


def clip_expectations(clips_dir, transcripts_dir) -> dict:
    """Recount what the uniqueness and referential checks must report."""
    clip_ids = read(clips_dir, ["clip_id"]).column("clip_id")
    tr_ids = read(transcripts_dir, ["clip_id"]).column("clip_id")
    counts = _value_counts(clip_ids)
    return {
        "rows": len(clip_ids),
        "ids": set(counts),
        R_UNIQUE: sum(c for c in counts.values() if c > 1),
        R_MISSING: int(pc.sum(pc.invert(pc.is_in(clip_ids, value_set=tr_ids))).as_py() or 0),
        R_ORPHAN: int(pc.sum(pc.invert(pc.is_in(tr_ids, value_set=clip_ids))).as_py() or 0),
    }


def check_suite(out: Path, exp: dict, num_parts: int, drift: bool,
                quarantine: bool) -> list[str]:
    """Verdicts unique per (part, rule) — also after a resumed run — and
    covering every part; uniqueness/referential counts equal the recount;
    with ``drift`` the drift rules flag exactly the planted parts; with
    ``quarantine`` clean ∪ quarantined == input by id, and disjoint."""
    errors: list[str] = []
    verdicts = read(out / "verdicts", ["part_id", "rule_id", "passed", "n_violations"])
    parts_col = verdicts.column("part_id").to_pylist()
    rules_col = verdicts.column("rule_id").to_pylist()
    keys = list(zip(parts_col, rules_col))
    if len(keys) != len(set(keys)):
        errors.append(f"verdicts: {len(keys) - len(set(keys))} duplicate (part, rule) rows")
    parts = {p for p in parts_col if p is not None and p >= 0}
    if parts != set(range(num_parts)):
        errors.append(f"verdicts cover {len(parts)} of {num_parts} parts")

    viol = _value_counts(read(out / "violations", ["rule_id"]).column("rule_id"))
    nv: dict = {}
    for rule, n in zip(rules_col, verdicts.column("n_violations").to_pylist()):
        nv[rule] = nv.get(rule, 0) + (n or 0)
    for rule in (R_UNIQUE, R_MISSING, R_ORPHAN):
        if viol.get(rule, 0) != exp[rule] or nv.get(rule, 0) != exp[rule]:
            errors.append(f"{rule}: violations {viol.get(rule, 0)}, verdict "
                          f"count {nv.get(rule, 0)}, recount {exp[rule]}")

    if drift:
        flagged = {p for p, r, ok in zip(parts_col, rules_col,
                                         verdicts.column("passed").to_pylist())
                   if r in R_DRIFT and ok is False}
        if flagged != set(DRIFT_PARTS):
            errors.append(f"drift flagged parts {sorted(flagged)}, "
                          f"planted {sorted(DRIFT_PARTS)}")

    if quarantine:
        clean = read(out / "clean", ["clip_id"]).column("clip_id")
        quar = read(out / "quarantined", ["clip_id"]).column("clip_id")
        c_ids, q_ids = set(clean.to_pylist()), set(quar.to_pylist())
        if c_ids & q_ids:
            errors.append(f"quarantine: {len(c_ids & q_ids)} ids in both views")
        if c_ids | q_ids != exp["ids"] or len(clean) + len(quar) != exp["rows"]:
            errors.append(f"quarantine: clean {len(clean)} + quarantined {len(quar)} "
                          f"rows do not rebuild the {exp['rows']}-row input")
    return errors


def check_curation(out: Path, docs_dir, summary: dict) -> list[str]:
    """English documents are the ones holding an English stopword (the
    corpus has no other language's stopwords): no other document is kept,
    at least 99% of planted English families collapse to exactly one kept
    doc, and 99% of independent English documents survive."""
    min_share = 0.99
    errors: list[str] = []
    docs = read(docs_dir, ["doc_id", "text", "family"])
    kept = set(read(out / "kept", ["id"]).column("id").to_pylist())
    per_family: dict[int, int] = {}
    singles = singles_kept = foreign_kept = 0
    for doc_id, text, fam in zip(docs.column("doc_id").to_pylist(),
                                 docs.column("text").to_pylist(),
                                 docs.column("family").to_pylist()):
        if not EN_STOPWORDS_SET.intersection(text.split()):
            foreign_kept += doc_id in kept
        elif fam < 0:
            singles += 1
            singles_kept += doc_id in kept
        else:
            per_family[fam] = per_family.get(fam, 0) + (doc_id in kept)
    if foreign_kept:
        errors.append(f"curation: kept {foreign_kept} docs without an English stopword")
    collapsed = sum(1 for n in per_family.values() if n == 1)
    if per_family and collapsed < min_share * len(per_family):
        errors.append(f"curation: {collapsed} of {len(per_family)} families "
                      "collapse to one kept doc")
    if singles and singles_kept < min_share * singles:
        errors.append(f"curation: kept {singles_kept} of {singles} independent docs")
    if summary.get("n_docs") != len(kept):
        errors.append(f"curation: summary n_docs {summary.get('n_docs')} != kept {len(kept)}")
    return errors


def check_feed(out: Path, landed: list[str], noop_new: int) -> list[str]:
    """Every landed file is in the files ledger exactly once; the call
    that finds nothing new reports 0 files."""
    errors: list[str] = []
    files = [Path(f).name for f in read(out / "files_ledger", ["file"]).column("file").to_pylist()]
    counts = {}
    for f in files:
        counts[f] = counts.get(f, 0) + 1
    want = {Path(f).name for f in landed}
    if set(counts) != want or any(n != 1 for n in counts.values()):
        errors.append(f"files ledger: {len(files)} rows for {len(want)} landed files")
    if noop_new != 0:
        errors.append(f"no-op increment reported {noop_new} new files")
    return errors
