"""Row-level rules, all evaluated in ONE scan of the input.

The reference's rule engine walks each event through a list of rules and
collects (rule_id, reason) alerts (`src/rules/engine.py:18-52`). At 10^12
rows the equivalent must not scan once per rule: every rule here is a
Catalyst boolean expression, stacked into a single projection —
``explode(filter(array(struct...)))`` — so N rules cost one scan, no UDFs,
one shuffle (the verdict groupBy over sparse violations). In the suite the
projection also carries the other metadata checks' row predicates
(checks/metadata.py).

Column pruning note: rules reference only metadata columns, so the parquet
scan never reads `bytes` (checked in tests via the physical plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import CheckResult, RunContext
from .metadata import CheckSpec, RowRule, one_check, row_violations


def default_clip_rules(allowed_codecs: tuple[str, ...] = ("pcm_s16le", "flac", "mulaw", "alaw", "adpcm_ima", "opus", "mp3"),
                       sr_range: tuple[int, int] = (4000, 96000),
                       dur_range: tuple[int, int] = (1, 12 * 3600 * 1000),
                       rate_range: tuple[float, float] = (6.5, 26.5)) -> list[RowRule]:
    """The declarative rule set for the clips input contract (FIXTURES.md §1).

    Rule-id scheme follows the reference (R001.. in rules/engine.py:30-52).

    ``rate_range`` bounds R018's transcript speaking rate in chars/sec —
    a cross-column consistency gate (transcript length vs audio duration)
    that catches truncated transcripts on long clips and runaway ASR
    output on short ones. Real speech sits around 12-18 chars/s; the wide
    default band flags only implausible pairs. try_divide keeps the
    predicate ANSI-safe for dur_ms == 0 rows (they are R013's job).
    """
    c = F.col
    rate = F.try_divide(F.length(F.trim(c("transcript"))) * F.lit(1000.0),
                        c("dur_ms"))
    return [
        RowRule("R010_sr_null", "sr_hz", c("sr_hz").isNull(),
                "sr_hz IS NOT NULL", "High", "sample rate missing"),
        RowRule("R011_sr_range", "sr_hz",
                c("sr_hz").isNotNull() & ~c("sr_hz").between(*sr_range),
                f"sr_hz IN [{sr_range[0]}, {sr_range[1]}]", "High",
                "sample rate out of plausible range"),
        RowRule("R012_dur_null", "dur_ms", c("dur_ms").isNull(),
                "dur_ms IS NOT NULL", "Medium", "duration missing"),
        RowRule("R013_dur_range", "dur_ms",
                c("dur_ms").isNotNull() & ~c("dur_ms").between(*dur_range),
                f"dur_ms IN [{dur_range[0]}, {dur_range[1]}]", "High",
                "duration non-positive or implausible"),
        RowRule("R014_codec_allowed", "codec",
                c("codec").isNull() | ~c("codec").isin(*allowed_codecs),
                f"codec IN {allowed_codecs}", "High", "unknown codec label"),
        RowRule("R015_transcript_nonempty", "transcript",
                c("transcript").isNull() | (F.length(F.trim(c("transcript"))) == 0),
                "transcript non-empty", "Low", "missing/empty transcript"),
        RowRule("R016_bytes_present", "bytes", c("bytes").isNull(),
                "bytes IS NOT NULL", "Critical", "audio payload missing"),
        RowRule("R018_speaking_rate", "transcript",
                c("transcript").isNotNull()
                & (F.length(F.trim(c("transcript"))) > 0)
                & c("dur_ms").isNotNull() & (c("dur_ms") > 0)
                & ~rate.between(*rate_range),
                f"transcript chars/sec IN [{rate_range[0]}, {rate_range[1]}]",
                "Medium",
                "transcript length inconsistent with audio duration"),
    ]


def violation_projection(df: DataFrame, rules: list[RowRule], ctx: RunContext) -> DataFrame:
    """Compile N rules into ONE projection (array → compact → explode).
    Stateless, so it runs identically on batch and streaming inputs."""
    return row_violations(df, [("row_rules", r) for r in rules], ctx).drop("check_id")


def row_rules_spec(rules: list[RowRule], columns: list[str]) -> CheckSpec:
    """The rules whose column is in ``columns``, as one check of the shared
    metadata plan. Rules on absent columns are skipped (metadata-only runs
    omit `bytes`), mirroring the reference's intersection-fallback on
    schema mismatch (data_loader.py:104-118)."""
    rules = tuple(r for r in rules if r.column in columns)
    return CheckSpec("row_rules", rule_ids=tuple(r.rule_id for r in rules), rows=rules)


def run_row_rules(df: DataFrame, rules: list[RowRule], ctx: RunContext) -> CheckResult:
    """Evaluate all rules in one scan; emit violations + per-partition
    verdicts. Raises ``ValueError`` when no rule's column is present."""
    return one_check(df, ctx, row_rules_spec(rules, df.columns))
