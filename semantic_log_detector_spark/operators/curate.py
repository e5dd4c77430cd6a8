"""Training-set curation: the end-to-end document selection pass.

This composes the pipeline rungs — quality scoring + language ID
(`textstats`), near-duplicate clustering (`dedup.ngram_jaccard_pairs` →
`dedup.dup_clusters`) and deterministic splitting (`splits.hash_split`) —
into the single operation a 100 TB pre-training pipeline actually runs:
"give me the deduplicated, language-filtered, quality-filtered document
set, with token accounting".

Scale shape: the corpus text is read once, in one narrow projection after
the small-input spread (`dedup._spread_small_input`). On the MinHash-LSH
path that projection is the signature pass (`dedup.minhash_signatures`):
it computes the shingle hashes, the band keys AND the per-doc stats
(n_tokens, quality, lang_guess) into one lazily checkpointed row per doc;
on the exact path the stats get a checkpointed table of their own. The
kept set is a filter over that table, so Catalyst cannot push the language
and quality filters below the spread's exchange (where every regex would
run on the one input partition) and nothing re-evaluates a text
expression. The duplicate-pair graph only ever contains documents that
collide in the dedup index (a small fraction of the corpus), so the
connected-components loop and the final left_anti join against
non-canonical ids touch edge-scale data, never corpus-scale.

The reference has no corpus-curation analog (its cleaning is
`src/ids/data_loader.py:162-194`: impute + drop_duplicates); this is the
graft-new generalization the training-data extras exist for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    _spread_small_input,
    dup_clusters,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from .textstats import lang_id, quality_score, token_count


def curate_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.7,
    exact_pairs: bool = False,
    max_df: int | None = 1000,
    cc_max_iters: int = 25,
    max_ppl: float | None = None,
    lm_lambda: float = 0.75,
    drop_stats: dict | None = None,
    artifacts: dict | None = None,
) -> DataFrame:
    """Curated document set: per-doc stats + near-dup canonicalization.

    Keeps documents that (a) are the canonical representative of their
    near-duplicate cluster (or belong to no cluster), (b) match ``langs``
    (empty tuple = keep all), (c) score ≥ ``min_quality``, and — when
    ``max_ppl`` is set — (d) have interpolated bigram-LM perplexity
    ≤ ``max_ppl`` against a model trained on THIS corpus
    (textstats.train_bigram_lm): the word-order quality gate that catches
    scrambled/boilerplate-mangled text the character heuristics pass.
    Docs too short to score (no bigrams) are NOT dropped by the ppl gate.

    ``exact_pairs=True`` builds the pair graph with the exact inverted-
    index operator (verification baseline, small corpora); the default
    uses MinHash-LSH (the 100 TB path). Returns one row per KEPT doc:
    (id, n_tokens, quality, lang_guess).

    ``artifacts`` (optional dict) receives intermediate frames a report or
    audit wants to persist — currently ``artifacts['clusters']``, the full
    duplicate-cluster table (id, cluster_id, is_canonical). Edge-scale,
    never corpus-scale.
    """
    text = F.col(text_col)
    stats = {
        "n_tokens": token_count(text).cast("long"),
        "quality": quality_score(text),
        "lang_guess": lang_id(text),
    }
    # the kept-set filters below read a checkpointed per-doc table, so
    # Catalyst cannot push them (and the regexes) under the spread
    if exact_pairs:
        docs = (
            _spread_small_input(df)
            .select(F.col(id_col).alias("id"), *[c.alias(k) for k, c in stats.items()])
            .localCheckpoint(eager=False)
        )
        pairs = ngram_jaccard_pairs(
            df, text_col, id_col, threshold=jaccard_threshold, max_df=max_df,
            drop_stats=drop_stats,
        )
    else:
        docs = minhash_signatures(df, text_col, id_col, doc_cols=stats)
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, jaccard_threshold=jaccard_threshold,
            drop_stats=drop_stats, signatures=docs,
        )
    clusters = dup_clusters(pairs, max_iters=cc_max_iters, drop_stats=drop_stats)
    if artifacts is not None:
        artifacts["clusters"] = clusters
    non_canonical = clusters.filter(~F.col("is_canonical")).select("id")
    kept = docs.select("id", *stats).join(non_canonical, "id", "left_anti")
    if langs:
        kept = kept.filter(F.col("lang_guess").isin(*langs))
    kept = kept.filter(F.col("quality") >= min_quality)
    if max_ppl is not None:
        from .textstats import lm_perplexity, train_bigram_lm

        bigrams, unigrams, lm_stats = train_bigram_lm(df, text_col)
        too_perplexed = (
            lm_perplexity(df, bigrams, unigrams, lm_stats,
                          text_col=text_col, id_col=id_col, lam=lm_lambda)
            .filter(F.col("ppl") > max_ppl)
            .select(F.col(id_col).alias("id"))
        )
        kept = kept.join(too_perplexed, "id", "left_anti")
    return kept


def curation_summary(kept: DataFrame) -> DataFrame:
    """One-row accounting over a curated set: doc count, total/mean tokens,
    mean quality — the numbers a data-mixing decision is made from."""
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )
