"""Reachability guard: no public package function or class is kept alive
by its tests alone.

Parses the source with ``ast``; no Spark runs. The roots are the
module-level statements of every package module (imports excluded: an
import is not a use), and all of ``__spark_entry__.py``, ``perfbench/``
and ``BENCH/`` outside their tests. A top-level function or class is
reached when a reached body mentions its name as a name, an attribute or
an import; string literals count in the harness files only, because the
benchmark patches engine functions by name. Names match bare, not by
module, so the guard can miss dead code that shares a name with live
code, but it never flags a name that reached code mentions.

Every public top-level name must be reached, or be listed in ``ALLOWLIST``
with the reason it stays. An allowlisted name is a root too, so the
helpers it calls need no entry of their own.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "semantic_log_detector_spark"
HARNESS = [ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").rglob("*.py")),
           *sorted((ROOT / "BENCH").rglob("*.py"))]

_REFERENCE = "reference implementation that the fast path is tested against"
_FIXTURE = "builds test inputs that the synthetic tables do not cover"
_LIBRARY = "library operator for pipeline code; no engine path or CLI command calls it"
_INSPECT = "inspection helper for a written artifact; no engine path reads it back"

# module path under the package -> why it stays without a non-test caller
ALLOWLIST = {
    "functions.adpcm.decode_adpcm_scalar": _REFERENCE,
    "functions.flac.crc16": _REFERENCE,
    "functions.audio.encode_wav_ex": _FIXTURE,
    "functions.containers.mp3_shell": _FIXTURE,
    "functions.containers.ogg_opus_shell": _FIXTURE,
    "operators.multimodal.synth_media": _FIXTURE,
    "sources.synth.packed_flac_twin_clips": _FIXTURE,
    "sources.synth.stereo_twin_clips": _FIXTURE,
    "functions.audio.register_decoder": "plug-in hook for a real codec decoder",
    "functions.containers.probe_clip": _LIBRARY,
    "checks.anomaly.anomaly_check": _LIBRARY,
    "checks.column_stats.grouped_profile": _LIBRARY,
    "operators.audio_curate.audio_curation_summary": _LIBRARY,
    "operators.audio_curate.curate_audio_corpus": _LIBRARY,
    "operators.audio_dedup.audio_decontaminate": _LIBRARY,
    "operators.batching.batch_padding_stats": _LIBRARY,
    "operators.crossmodal.cross_modal_dup_clusters": _LIBRARY,
    "operators.features.apply_cmvn": _LIBRARY,
    "operators.features.spec_augment": _LIBRARY,
    "operators.knn.ivfpq_encode": _LIBRARY,
    "operators.knn.ivfpq_fit": _LIBRARY,
    "operators.knn.ivfpq_topk": _LIBRARY,
    "operators.packing.packing_summary": _LIBRARY,
    "operators.segment.speech_ratio": _LIBRARY,
    "operators.splits.split_leakage": _LIBRARY,
    "operators.splits.split_leakage_summary": _LIBRARY,
    "plans.ann_index.landmark_index_search": _LIBRARY,
    "plans.ann_index.pq_index_topk": _LIBRARY,
    "plans.ann_index.read_dedup_fps": _INSPECT,
    "plans.incremental.increment_history": _INSPECT,
    "plans.incremental.list_data_files": _INSPECT,
    "plans.layout.pruning_stats": _INSPECT,
}


def _mentions(node: ast.AST, strings: bool) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _scan():
    """(public top-level names by module path, names each top-level body
    mentions, names the roots mention)."""
    public: dict[str, str] = {}
    bodies: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bodies.setdefault(node.name, set()).update(_mentions(node, False))
                if not node.name.startswith("_"):
                    public[f"{mod}.{node.name}"] = node.name
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _mentions(node, False)
    for path in HARNESS:
        if "tests" not in path.relative_to(ROOT).parts:
            roots |= _mentions(ast.parse(path.read_text()), True)
    return public, bodies, roots


def _closure(seed: set[str], bodies: dict[str, set[str]]) -> set[str]:
    reached, todo = set(seed), list(seed)
    while todo:
        for name in bodies.get(todo.pop(), ()):
            if name not in reached:
                reached.add(name)
                todo.append(name)
    return reached


def test_every_public_name_is_reached_or_allowlisted():
    public, bodies, roots = _scan()
    allowed = {public[k] for k in ALLOWLIST if k in public}
    reached = _closure(roots | allowed, bodies)
    unreached = sorted(k for k, name in public.items() if name not in reached)
    assert unreached == [], (
        "only tests reach these: call them from the engine, delete them, "
        "or allowlist them with a reason")


def test_allowlist_names_only_existing_test_only_code():
    public, bodies, roots = _scan()
    assert sorted(set(ALLOWLIST) - set(public)) == [], "allowlisted name no longer defined"
    live = _closure(roots, bodies)
    assert sorted(k for k in ALLOWLIST if public[k] in live) == [], (
        "reached without the allowlist: drop the entry")
