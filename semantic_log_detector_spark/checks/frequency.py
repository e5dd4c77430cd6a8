"""Allowed-values check over a categorical column (SURVEY.md A2, §4.1).

Reference: label/severity value_counts (`src/ids/data_loader.py:214-219`).
R040 flags every row whose value is outside the declared set and reports
the value's count over the checked input ("global count=N"). Every row
holding such a value is a violation, so N is a window count over the
sparse R040 rows — no frequency table of the whole column and no join
back. The codec column is skewed (one codec ≈ 80%), but only the rare
disallowed values are ever shuffled. A NULL value is not flagged here
(R014 in row_rules owns missing codecs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import CheckResult, RunContext
from .metadata import CheckSpec, RowRule, one_check

R_ALLOWED = "R040_codec_allowed_values"


def frequency_spec(
    col: str = "codec",
    allowed: tuple[str, ...] = ("pcm_s16le", "flac", "mulaw", "alaw", "adpcm_ima", "opus", "mp3"),
) -> CheckSpec:
    rule = RowRule(
        R_ALLOWED, col, F.col(col).isNotNull() & ~F.col(col).isin(*allowed),
        f"value IN {allowed}", "High", "value outside allowed set", count_value=True,
    )
    return CheckSpec("frequency", rule_ids=(R_ALLOWED,), rows=(rule,))


def frequency_check(
    df: DataFrame,
    ctx: RunContext,
    col: str = "codec",
    allowed: tuple[str, ...] = ("pcm_s16le", "flac", "mulaw", "alaw", "adpcm_ima", "opus", "mp3"),
) -> CheckResult:
    """Allowed-values check: violations carry the offending value + its
    global frequency (observed-vs-expected, explanation_engine.py shape)."""
    return one_check(df, ctx, frequency_spec(col, allowed))
