"""Transcript quality check: the text-analysis ladder wired into the suite.

The reference scores log text semantically and flags outliers
(`src/detection/anomaly_scorer.py`); the declarative recast runs the
Catalyst-native text operators (operators/textstats.py — language ID,
quality score, token count; no UDFs) as per-row rules over the transcript
column, with the usual sparse-violation → per-partition verdict shape.
Null transcripts are R015's (row_rules) business, not re-flagged here.

Rules:
  R080_transcript_lang    lang_id(transcript) ∈ allowed_langs
  R081_transcript_quality quality_score(transcript) ≥ min_quality
  R082_transcript_tokens  token_count(transcript) within token_range
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.textstats import lang_id, quality_score, token_count
from .base import CheckResult, RunContext
from .metadata import CheckSpec, RowRule, one_check

R_LANG = "R080_transcript_lang"
R_QUALITY = "R081_transcript_quality"
R_TOKENS = "R082_transcript_tokens"


def transcript_quality_spec(
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es", "und"),
    min_quality: float = 0.3,
    token_range: tuple[int, int] = (1, 100_000),
    text_col: str = "transcript",
    id_col: str = "clip_id",
) -> CheckSpec:
    """Lang/quality/tokens projected once per non-null transcript, then
    three row rules over them (row_rules' array→compact→explode shape: a
    union of per-rule filters would inline the textstats projection once
    per branch)."""
    text = F.col(text_col)
    derived = tuple(
        (name, F.when(text.isNotNull(), expr))
        for name, expr in (
            ("__tq_lang", lang_id(text)),
            ("__tq_q", F.round(quality_score(text), 6)),
            ("__tq_n", token_count(text).cast("long")),
        )
    )
    lang, q, n = F.col("__tq_lang"), F.col("__tq_q"), F.col("__tq_n")
    lo, hi = token_range
    rules = (
        RowRule(R_LANG, "transcript", ~lang.isin(list(allowed_langs)),
                f"lang in {sorted(allowed_langs)}", "Medium",
                "transcript language outside the expected set",
                observed=lang, id_col=id_col),
        RowRule(R_QUALITY, "transcript", q < min_quality,
                f"quality >= {min_quality}", "Low",
                "transcript quality score below floor",
                observed=q, id_col=id_col),
        RowRule(R_TOKENS, "transcript", (n < lo) | (n > hi),
                f"token count in [{lo}, {hi}]", "Low",
                "transcript token count outside expected range",
                observed=n, id_col=id_col),
    )
    return CheckSpec("transcript_quality", rule_ids=(R_LANG, R_QUALITY, R_TOKENS),
                     rows=rules, derived=derived)


def transcript_quality_check(
    df: DataFrame,
    ctx: RunContext,
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es", "und"),
    min_quality: float = 0.3,
    token_range: tuple[int, int] = (1, 100_000),
    text_col: str = "transcript",
    id_col: str = "clip_id",
) -> CheckResult:
    """One scan: project lang/quality/tokens, emit violations per failed
    rule, assemble per-partition verdicts — the shared metadata plan."""
    return one_check(df, ctx, transcript_quality_spec(
        allowed_langs, min_quality, token_range, text_col, id_col))
