"""One shared plan for the per-partition metadata checks.

row_rules, stats, frequency, transcript_quality, uniqueness and
referential all score the same input slice per partition. Built one by
one, each would pay its own per-part row count, violation count and
verdict grid join over that slice (stages and driver planning that do not
shrink with cores). Here they compile into ONE plan — the batch of
group-by aggregates sharing a key of *LMFAO* (VLDB 2020):

- every row-level predicate (row rules, frequency's allowed values,
  transcript quality) is one struct of a single
  ``explode(array_compact(array(struct…)))`` projection: N rules, one
  scan, no UDFs;
- one ``groupBy(part_id)`` gives the row counts and the stats partials;
- one (check, rule) × partition grid is left-joined to ONE violation
  count over the union of the sparse violations.

Uniqueness and referential keep their own violation plans (a key shuffle,
a join); only their counting and verdict assembly is shared. Each check's
public function is :func:`run_checks` called with that one check, so a
check runs the same plan alone or fused.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .base import CheckResult, RunContext, ensure_part_id, verdict_grid


@dataclass(frozen=True)
class RowRule:
    rule_id: str
    column: str
    violation: Column  # true ⇒ this row violates the rule
    expected: str
    severity: str = "Medium"
    explanation: str = ""
    # the violation row's observed value; None = the column's own value
    observed: Column | None = None
    # column naming the offending row
    id_col: str = "clip_id"
    # append " (global count=N)" to observed, N = rows of the checked input
    # holding that observed value. Every such row violates the rule, so N
    # is a window count over the rule's own (sparse) violation rows.
    count_value: bool = False


@dataclass(frozen=True)
class CheckSpec:
    """One check's share of the shared plan."""

    check_id: str
    # rules whose per-part verdicts count the sparse violations (the grid)
    rule_ids: tuple[str, ...] = ()
    # row-level predicates, fused into the one projection
    rows: tuple[RowRule, ...] = ()
    # (name, expr) columns the predicates read, projected once before it
    derived: tuple[tuple[str, Column], ...] = ()
    # partial aggregates added to the one groupBy(part_id)
    part_aggs: tuple[Column, ...] = ()
    # (per-part aggregate, ctx) → (verdicts, violations) for rules judged
    # on partition statistics rather than counted violations
    part_verdicts: Callable[[DataFrame, RunContext], tuple[DataFrame, DataFrame]] | None = None
    # (input, ctx) → VIOLATION_SCHEMA rows from the check's own plan
    sparse: Callable[[DataFrame, RunContext], DataFrame] | None = None


_VIOLATION_COLS = ("run_id", "part_id", "rule_id", "clip_id", "column",
                   "observed", "expected", "severity", "explanation")


def row_violations(df: DataFrame, rules: list[tuple[str, RowRule]],
                   ctx: RunContext) -> DataFrame:
    """Compile (check_id, rule) pairs into ONE projection (array → compact
    → explode): VIOLATION_SCHEMA columns plus ``check_id``. Stateless
    unless a rule counts values, so it runs identically on batch and
    streaming inputs."""
    structs = [
        F.when(
            r.violation,
            F.struct(
                F.lit(check).alias("check_id"),
                F.lit(r.rule_id).alias("rule_id"),
                F.col(r.id_col).cast("string").alias("clip_id"),
                F.lit(r.column).alias("column"),
                (F.col(r.column) if r.observed is None else r.observed)
                .cast("string").alias("observed"),
                F.lit(r.expected).alias("expected"),
                F.lit(r.severity).alias("severity"),
                F.lit(r.explanation).alias("explanation"),
            ),
        )
        for check, r in rules
    ]
    hits = F.array_compact(F.array(*structs))  # drop non-violations (nulls)
    out = df.select(
        F.col(ctx.part_col).cast("int").alias("part_id"), F.explode(hits).alias("v")
    ).select("part_id", "v.*")
    counted = [r.rule_id for _, r in rules if r.count_value]
    if counted:
        n = F.count(F.lit(1)).over(Window.partitionBy("check_id", "rule_id", "observed"))
        out = out.withColumn("observed", F.when(
            F.col("rule_id").isin(counted),
            F.concat("observed", F.lit(" (global count="), n, F.lit(")")),
        ).otherwise(F.col("observed")))
    return out.select(F.lit(ctx.run_id).alias("run_id"), *_VIOLATION_COLS[1:], "check_id")


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def run_checks(df: DataFrame, ctx: RunContext, specs: list[CheckSpec]) -> CheckResult:
    """Build the verdict and violation plans of ``specs`` as one plan over
    ``df``. Both frames carry a ``check_id`` column naming the check each
    row belongs to. Raises ``ValueError`` for a check with no rules: its
    grid would otherwise drop every verdict silently."""
    for s in specs:
        if not s.rule_ids and s.part_verdicts is None:
            raise ValueError(f"check {s.check_id!r} has no rules")
    df = ensure_part_id(df, ctx)

    sparse = []
    rules = [(s.check_id, r) for s in specs for r in s.rows]
    if rules:
        derived = [c.alias(name) for s in specs for name, c in s.derived]
        sparse.append(row_violations(df.select("*", *derived) if derived else df,
                                     rules, ctx))
    sparse += [s.sparse(df, ctx).withColumn("check_id", F.lit(s.check_id))
               for s in specs if s.sparse is not None]

    per_part = df.groupBy(ctx.part_col).agg(
        F.count(F.lit(1)).alias("n_rows"), *[a for s in specs for a in s.part_aggs])
    verdicts, violations = [], list(sparse)
    grid_rules = [(s.check_id, r) for s in specs for r in s.rule_ids]
    if grid_rules:
        vcounts = (
            _union(sparse).filter(F.col("part_id").isNotNull())
            .groupBy("check_id", "part_id", "rule_id")
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
        verdicts.append(verdict_grid(per_part, vcounts, ctx, grid_rules))
    for s in specs:
        if s.part_verdicts is not None:
            v, l = s.part_verdicts(per_part, ctx)
            verdicts.append(v.withColumn("check_id", F.lit(s.check_id)))
            violations.append(l.withColumn("check_id", F.lit(s.check_id)))
    return CheckResult("+".join(s.check_id for s in specs),
                       _union(verdicts), _union(violations))


def one_check(df: DataFrame, ctx: RunContext, spec: CheckSpec) -> CheckResult:
    """:func:`run_checks` for a single check, without the ``check_id``
    column."""
    res = run_checks(df, ctx, [spec])
    return CheckResult(spec.check_id, res.verdicts.drop("check_id"),
                       res.violations.drop("check_id"))
