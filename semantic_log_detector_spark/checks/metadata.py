"""One shared plan for the per-partition metadata checks.

row_rules, stats, frequency, transcript_quality, uniqueness and
referential all score the same input slice per partition. Built one by
one, each would pay its own per-part row count and violation count over
that slice (stages and driver planning that do not shrink with cores).
Here they compile into ONE plan — the batch of group-by aggregates
sharing a key of *LMFAO* (VLDB 2020):

- every row-level predicate (row rules, frequency's allowed values,
  transcript quality) is one struct of a single
  ``explode(array_compact(array(struct…)))`` projection: N rules, one
  scan, no UDFs;
- one ``groupBy(part_id)`` gives the row counts and the stats partials;
  the stats thresholds are a projection of it (``PartRule``);
- the sparse violations of all checks are one union, counted per
  (check, part, rule) in the runner's one small collect; the
  (check, rule) × partition verdict grid is filled on the driver
  (``base.assemble``) — no grid join.

Uniqueness and referential keep their own violation plans (a key shuffle,
a join); only their counting and verdict assembly is shared. Each check's
public function is :func:`run_checks` called with that one check and
executed like a suite wave, so a check runs the same plan and the same
assembly alone or fused.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .base import (
    CheckPlan,
    CheckResult,
    PartRule,
    RunContext,
    check_result,
    ensure_part_id,
    part_frame,
    union_all,
)


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
    # rules judged on those per-part aggregates rather than counted
    # violations
    judged: tuple[PartRule, ...] = ()
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


def run_checks(df: DataFrame, ctx: RunContext, specs: list[CheckSpec]) -> CheckPlan:
    """Build ``specs`` as one plan over ``df``: the union of their sparse
    violations and one per-part frame (row counts, judged rules), both
    tagged with ``check_id``. Raises ``ValueError`` for a check with no
    rules: its grid would otherwise drop every verdict silently."""
    for s in specs:
        if not s.rule_ids and not s.judged:
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
    return CheckPlan(
        tuple(s.check_id for s in specs),
        rules=[(s.check_id, r) for s in specs for r in s.rule_ids],
        sparse=union_all(sparse) if sparse else None,
        part_frame=part_frame(per_part, ctx,
                              [(s.check_id, j) for s in specs for j in s.judged]),
    )


def one_check(df: DataFrame, ctx: RunContext, spec: CheckSpec) -> CheckResult:
    """:func:`run_checks` for a single check, executed and assembled like
    a suite wave (``base.check_result``)."""
    return check_result(df.sparkSession, run_checks(df, ctx, [spec]), ctx)
