"""Check framework core: run context, result shape, verdict assembly.

The reference composes independent signals (model score, rule hits, drift)
into one OR-decision per row (`src/api/main.py:100-127`) and reports rule
ids + reasons (`src/rules/engine.py:30-52`). Here each check emits:

- violation rows (VIOLATION_SCHEMA): one per offending clip/aggregate, and
- per-partition verdicts (VERDICT_SCHEMA): groupBy(part_id) pass/fail.

Verdict assembly is shared: violations.groupBy(part_id, rule_id).count()
left-joined to a (rule × partition) grid over per-partition row counts — a
tiny shuffle regardless of input size, because violations are (expected
to be) sparse. The metadata checks assemble theirs in one grid for all of
them (checks/metadata.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RunContext:
    run_id: str
    num_parts: int = 64
    config_hash: str = ""
    part_col: str = "part_id"


@dataclass
class CheckResult:
    check_id: str
    verdicts: DataFrame
    violations: DataFrame
    metrics: dict = field(default_factory=dict)
    # persisted DataFrames the verdict/violation plans still read from; the
    # caller (runner) unpersists them AFTER its batched actions. Lets a heavy
    # check hand back lazy plans over its cached intermediate instead of
    # paying extra eager-materialization jobs (pure fixed cost per action
    # that dilutes N→4N scaling efficiency).
    resources: list = field(default_factory=list)

    def release(self) -> None:
        for df in self.resources:
            try:
                df.unpersist()
            except Exception:
                pass
        self.resources.clear()


def ensure_part_id(df: DataFrame, ctx: RunContext, key: str = "clip_id") -> DataFrame:
    """Attach the engine partition key if absent: pmod(xxhash64(key), P).

    Data-derived (not spark_partition_id) so per-partition verdicts are
    identical at any parallelism — required by the two-cluster-size
    scaling protocol (SURVEY.md §7.3).
    """
    if ctx.part_col in df.columns:
        return df
    return df.withColumn(
        ctx.part_col, F.pmod(F.xxhash64(F.col(key)), F.lit(ctx.num_parts)).cast("int")
    )


def part_row_counts(df: DataFrame, ctx: RunContext) -> DataFrame:
    """Per-partition row counts — computed once per run, reused by checks."""
    return df.groupBy(ctx.part_col).agg(F.count(F.lit(1)).alias("n_rows"))


def verdicts_from_violations(
    violations: DataFrame,
    part_counts: DataFrame,
    ctx: RunContext,
    rule_ids: list[str],
) -> DataFrame:
    """Assemble VERDICT_SCHEMA rows from sparse violations: the one-check
    form of :func:`verdict_grid`. Raises ``ValueError`` on an empty rule
    list (the grid would silently emit no verdict at all)."""
    if not rule_ids:
        raise ValueError("verdicts_from_violations: rule_ids is empty")
    vcounts = violations.groupBy(
        F.col(ctx.part_col).cast("int").alias("part_id"), "rule_id"
    ).agg(F.count(F.lit(1)).alias("n_violations"))
    return verdict_grid(
        part_counts, vcounts.withColumn("check_id", F.lit("")), ctx,
        [("", r) for r in rule_ids],
    ).drop("check_id")


def verdict_grid(
    part_counts: DataFrame,
    vcounts: DataFrame,
    ctx: RunContext,
    rules: list[tuple[str, str]],
) -> DataFrame:
    """One verdict row per (check, rule) × partition of ``part_counts``.

    ``part_counts`` carries (part_col, n_rows); ``vcounts`` carries
    (check_id, part_id, rule_id, n_violations) counted over the sparse
    violations. The grid — so rules with zero violations still produce an
    explicit `passed=true` verdict, the reference always reports each
    signal, hit or not (api/main.py:131-140) — is built by EXPLODING the
    (check, rule) literals over the per-partition counts: a pure
    projection, no extra job (a createDataFrame + broadcast crossJoin
    launches one broadcast-exchange job per grid). Output: VERDICT_SCHEMA
    columns plus ``check_id``.
    """
    if not rules:
        raise ValueError("verdict_grid: no (check, rule) pairs to assemble")
    pairs = F.array(*[
        F.struct(F.lit(c).alias("check_id"), F.lit(r).alias("rule_id"))
        for c, r in rules
    ])
    grid = part_counts.select(
        F.col(ctx.part_col).cast("int").alias("part_id"), "n_rows",
        F.explode(pairs).alias("g"),
    ).select("part_id", "n_rows", "g.check_id", "g.rule_id")
    return (
        grid.join(vcounts, ["check_id", "part_id", "rule_id"], "left")
        .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
        .select(
            F.lit(ctx.run_id).alias("run_id"),
            "part_id",
            "rule_id",
            (F.col("n_violations") == 0).alias("passed"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_violations").cast("long").alias("n_violations"),
            F.lit(None).cast("string").alias("observed"),
            F.lit(None).cast("string").alias("expected"),
            "check_id",
        )
    )


def severity_for_rate(rate_col):
    """Severity bucketing by violation rate — the reference's score→severity
    ranges (`src/utils/explanation_engine.py:23-39`) recast on rates."""
    return (
        F.when(rate_col >= 0.1, F.lit("Critical"))
        .when(rate_col >= 0.01, F.lit("High"))
        .when(rate_col >= 0.001, F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )
