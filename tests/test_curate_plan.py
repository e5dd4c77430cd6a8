"""Document curation evaluates every per-document text expression once.

``tests/data/curate_golden.jsonl`` holds the shingles, shingle hashes,
kept rows, duplicate clusters and drop stats that the three-scan
curation (stats projection, signature pass and filters planned apart)
produced on the hand-made corpus below. The one-pass form must give the
same rows on both the exact and the MinHash-LSH path. Regenerate the
file with::

    python -m tests.test_curate_plan tests/data/curate_golden.jsonl

(only when the curation semantics change on purpose)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_log_detector_spark.operators import curate
from semantic_log_detector_spark.operators.dedup import shingle_hashes, token_shingles

GOLDEN_PATH = Path(__file__).parent / "data" / "curate_golden.jsonl"

_CHAIN = ("the river runs past the old mill and a heron waits on the bank for "
          "fish while the farmer walks his dog along the path to the village "
          "market where bread and cheese are sold every morning").split()


def _edit(words: list[str], at: tuple[int, ...]) -> str:
    return " ".join(f"x{i}" if i in at else w for i, w in enumerate(words))


def corpus_rows() -> list[tuple]:
    """(doc_id, text): every case the curation must tell apart."""
    return [
        (1, None),                                    # NULL text
        (2, ""),                                      # empty
        (3, "   \n\t  "),                             # whitespace only
        (4, "\tThe quick brown fox jumps over the lazy dog near the barn"),
        (5, "hello world"),                           # fewer than 3 tokens
        (6, "the"),
        (7, "the cat and the cat and the cat and the cat and the dog"),
        (8, "  THE  quick brown fox jumps over the LAZY dog near the barn "),
        # near-dup chain A~B~C: A and C alone are below the threshold
        (10, " ".join(_CHAIN)),
        (11, _edit(_CHAIN, (8, 9))),
        (12, _edit(_CHAIN, (8, 9, 22, 23))),
        (13, "der Hund und die Katze ist nicht mit dem Ball auf der Wiese"),
        (14, "le chat et la souris est un jeu que les enfants aiment pour"),
        (15, "el perro y la casa es un lugar que los niños quieren por"),
        (16, "la maison la rue"),                         # fr/es tie
        (17, "the die and und"),                          # en/de tie
        (18, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"),
        (19, "$$$ ### 123 456 !!! ??? ... ;;; ::: @@@ %%% ^^^"),
        (20, "the supercalifragilisticexpialidocious antidisestablishmentarianism"),
        (21, "a a a a a a a a a a a a"),
        (22, "to be or not to be that is the question of the day"),
        (23, "to be or not to be that is the question of the day!"),
    ]


def corpus(spark) -> DataFrame:
    return spark.createDataFrame(corpus_rows(), "doc_id long, text string")


def _sorted(rows) -> list[list]:
    return sorted((list(r) for r in rows), key=json.dumps)


def curate_outputs(spark) -> dict:
    """``{section: rows}`` for the shingle columns and both curation paths."""
    docs = corpus(spark)
    out = {
        "shingles": _sorted(docs.select(
            "doc_id", token_shingles(F.col("text")).alias("s")).collect()),
        "hashes": _sorted(docs.select(
            "doc_id", shingle_hashes(F.col("text")).alias("h")).collect()),
    }
    for path, exact in (("exact", True), ("lsh", False)):
        for name, filters in (("", {}), ("_all", {"langs": (), "min_quality": 0.0})):
            drop_stats: dict = {}
            artifacts: dict = {}
            kept = curate.curate_documents(
                docs, exact_pairs=exact, drop_stats=drop_stats,
                artifacts=artifacts, **filters)
            out[f"{path}{name}/kept"] = _sorted(kept.collect())
            out[f"{path}{name}/clusters"] = _sorted(artifacts["clusters"].collect())
            out[f"{path}{name}/drop_stats"] = _sorted(
                (k, v) for k, v in drop_stats.items() if k != "persisted")
    return out


def write_golden(path: str, golden: dict) -> None:
    with open(path, "w") as f:
        for section, rows in golden.items():
            for row in rows:
                f.write(json.dumps([section, row]) + "\n")


def read_golden(path: Path) -> dict:
    golden: dict = {}
    with open(path) as f:
        for line in f:
            section, row = json.loads(line)
            golden.setdefault(section, []).append(row)
    return golden


GOLDEN = read_golden(GOLDEN_PATH) if GOLDEN_PATH.exists() else {}


@pytest.fixture(scope="module")
def outputs(spark):
    return json.loads(json.dumps(curate_outputs(spark)))


@pytest.mark.parametrize("section", sorted(GOLDEN))
def test_rows_match_golden(outputs, section):
    assert outputs[section] == GOLDEN[section]


def test_golden_covers_the_planted_cases():
    """The corpus still plants what the golden rows are meant to pin."""
    for path in ("exact", "lsh"):
        clusters = {r[0]: r[1] for r in GOLDEN[f"{path}/clusters"]}
        assert clusters[10] == clusters[11] == clusters[12] == 10, path
        langs = {r[0]: r[3] for r in GOLDEN[f"{path}_all/kept"]}
        assert {langs[13], langs[14], langs[15], langs[16], langs[17]} == {
            "de", "fr", "es", "en"}, path
        assert langs[1] == langs[2] == langs[18] == "und", path


# ------------------------------------------------------------- plan guards


def _children(node) -> list:
    """Physical plan children, looking through AQE wrappers and stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _expr_classes(expr, found: set, in_lambda: bool = False) -> None:
    name = expr.getClass().getSimpleName()
    found.add((name, in_lambda))
    in_lambda = in_lambda or name == "LambdaFunction"
    kids = expr.children()
    for i in range(kids.size()):
        _expr_classes(kids.apply(i), found, in_lambda)


def _node_exprs(node) -> set:
    found: set = set()
    exprs = node.expressions()
    for i in range(exprs.size()):
        _expr_classes(exprs.apply(i), found)
    return found


def _is_spread(node) -> bool:
    return (node.getClass().getSimpleName() == "ShuffleExchangeExec"
            and node.outputPartitioning().getClass().getSimpleName()
            == "RoundRobinPartitioning")


def _has_spread(node) -> bool:
    return _is_spread(node) or any(_has_spread(c) for c in _children(node))


def _regex_nodes(node, below_spread: bool = False, acc: list | None = None) -> list:
    """(node name, runs below a round-robin exchange, reads a round-robin
    exchange) per plan operator that evaluates ``regexp_extract_all``."""
    acc = [] if acc is None else acc
    if any(c == "RegExpExtractAll" for c, _ in _node_exprs(node)):
        acc.append((node.nodeName(), below_spread, _has_spread(node)))
    for child in _children(node):
        _regex_nodes(child, below_spread or _is_spread(node), acc)
    return acc


def test_corpus_text_is_read_once_above_the_spread(spark, tmp_path, monkeypatch):
    """On a one-file corpus every regex over the text sits in ONE plan
    operator, after the round-robin spread, and the kept set's own plan
    holds no text expression: it filters the per-document table."""
    corpus(spark).repartition(1).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    assert docs.rdd.getNumPartitions() == 1

    checkpointed: list[DataFrame] = []
    real = type(docs).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", spy)
    kept = curate.curate_documents(docs, exact_pairs=False, drop_stats={})
    kept.collect()
    found = [n for df in checkpointed + [kept]
             for n in _regex_nodes(df._jdf.queryExecution().executedPlan())]
    assert len(found) == 1, found
    name, below, above = found[0]
    assert above and not below, f"{name} does not run after the round-robin spread"
    assert _regex_nodes(kept._jdf.queryExecution().executedPlan()) == []


def test_token_shingles_lambda_reads_bound_tokens(spark):
    """The shingle lambda slices a bound token array: no ``split`` of the
    text inside any lambda, so the text is tokenized once per doc."""
    plan = (spark.createDataFrame([("a b c d",)], "text string")
            .select(token_shingles(F.col("text")).alias("s"))
            ._jdf.queryExecution().analyzed())
    found = _node_exprs(plan)
    assert ("StringSplit", False) in found
    assert ("StringSplit", True) not in found
    assert ("LambdaFunction", False) in found


def main(path: str) -> None:
    from semantic_log_detector_spark.session import get_spark

    spark = get_spark(app_name="curate-golden", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    write_golden(path, curate_outputs(spark))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
