"""Check framework core: run context, result shape, verdict assembly.

The reference composes independent signals (model score, rule hits, drift)
into one OR-decision per row (`src/api/main.py:100-127`) and reports rule
ids + reasons (`src/rules/engine.py:30-52`). Here each check emits:

- violation rows (VIOLATION_SCHEMA): one per offending clip/aggregate, and
- per-partition verdicts (VERDICT_SCHEMA): groupBy(part_id) pass/fail.

Verdicts are assembled on the DRIVER. A check's build is a
:class:`CheckPlan`: its sparse violation rows (a Spark plan), the
(check, rule) pairs judged by counting them, and a small per-partition
frame (row counts, and rules judged on partition aggregates). One collect
of a small union — violation counts per (build, check, part, rule), the
per-part row counts and the part-level verdict rows — carries everything
the verdicts need; :func:`assemble` fills the (check, rule) × partition
grid in Python. Verdicts are at most parts × rules rows, so no grid join
and no second plan of the sparse violations is needed (the batch of tiny
group-by aggregates computed once and assembled outside the heavy plan,
*LMFAO*, VLDB 2020). The runner and every public ``<check>_check``
function go through :func:`execute`, the one verdict path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import VERDICT_SCHEMA, VIOLATION_SCHEMA

VERDICT_COLS = tuple(f.name for f in VERDICT_SCHEMA)
VIOLATION_COLS = tuple(f.name for f in VIOLATION_SCHEMA)


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
    # persisted DataFrames the violation frame still reads from (a heavy
    # check's cached intermediate, the persisted sparse violations);
    # release() unpersists them once the caller is done with the frames
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


@dataclass(frozen=True)
class PartRule:
    """A rule judged on a partition's aggregates rather than by counting
    violation rows. Every field but the ids is an expression over the
    per-part aggregate; a failing partition yields one violation row
    (clip_id NULL) carrying ``observed``/``expected``."""

    rule_id: str
    passed: Column
    observed: Column
    expected: str
    column: str
    severity: Column
    explanation: Column


@dataclass
class CheckPlan:
    """One build of one or more checks, before verdict assembly.

    ``sparse`` holds VIOLATION_SCHEMA columns plus ``check_id``; ``rules``
    are the (check, rule) pairs whose per-part verdict counts those rows.
    The per-part row counts come from ``part_frame`` (a :func:`part_frame`
    frame, collected) or, when the build already knows them on the
    driver, from ``n_rows``. ``verdicts`` (VERDICT_COLS + check_id) and
    ``violations`` (VIOLATION_COLS + check_id) are rows the build judged
    on the driver itself."""

    check_ids: tuple[str, ...]
    rules: list[tuple[str, str]] = field(default_factory=list)
    sparse: DataFrame | None = None
    part_frame: DataFrame | None = None
    n_rows: dict[int, int] | None = None
    verdicts: list[tuple] = field(default_factory=list)
    violations: list[tuple] = field(default_factory=list)
    # persisted frames the plan reads; released after the wave's actions
    resources: list = field(default_factory=list)


# columns of the small frame each build hands to the one collect:
# kind 'p' = a part's row count (n), 'n' = a violation count (n) per
# (check, part, rule), 'j' = a part-level verdict (n = the part's rows)
_SMALL_COLS = ("__build", "__kind", "check_id", "part_id", "rule_id", "n",
               "passed", "observed", "expected", "column", "severity",
               "explanation")


def part_frame(per_part: DataFrame, ctx: RunContext,
               judged: list[tuple[str, PartRule]] = ()) -> DataFrame:
    """The small per-part frame of a build: one row-count row per
    partition of ``per_part`` (part_col, n_rows, aggregates…) and one
    verdict row per (check, :class:`PartRule`) — a projection of the
    aggregate, so the verdicts' ``observed`` strings keep Spark's
    formatting."""
    s = F.lit(None).cast("string")

    def row(kind, check, rule, passed, observed, expected, column, severity,
            explanation):
        return F.struct(
            F.lit(kind).alias("__kind"), F.lit(check).cast("string").alias("check_id"),
            F.lit(rule).cast("string").alias("rule_id"),
            passed.cast("boolean").alias("passed"), observed.cast("string").alias("observed"),
            F.lit(expected).cast("string").alias("expected"),
            F.lit(column).cast("string").alias("column"),
            F.lit(severity).cast("string").alias("severity"),
            explanation.cast("string").alias("explanation"),
        )

    rows = [row("p", None, None, F.lit(None), s, None, None, None, s)] + [
        row("j", check, r.rule_id, r.passed, r.observed, r.expected, r.column,
            r.severity, r.explanation)
        for check, r in judged
    ]
    return per_part.select(
        F.col(ctx.part_col).cast("int").alias("part_id"),
        F.col("n_rows").cast("long").alias("n"),
        F.explode(F.array(*rows)).alias("r"),
    ).select("r.__kind", "r.check_id", "part_id", "r.rule_id", "n", "r.passed",
             "r.observed", "r.expected", "r.column", "r.severity", "r.explanation")


def assemble(run_id: str, plans: list[CheckPlan], rows: list) -> tuple[list, list]:
    """Verdict rows (VERDICT_COLS + check_id) and driver-side violation rows
    (VIOLATION_COLS + check_id) of ``plans`` from the collected small rows
    (``_SMALL_COLS``): each (check, rule) × partition grid cell counts the
    build's violations in that partition, so a rule with none still gets an
    explicit ``passed=true`` verdict — the reference always reports each
    signal, hit or not (api/main.py:131-140)."""
    n_rows = [dict(p.n_rows or {}) for p in plans]
    counts: dict[tuple, int] = {}
    verdicts, violations = [], []
    for b, kind, check, part, rule, n, passed, obs, exp, col, sev, expl in rows:
        if kind == "p":
            n_rows[b][part] = n
        elif kind == "n":
            counts[(b, check, part, rule)] = n
        else:
            verdicts.append((run_id, part, rule, passed, n, 0 if passed else 1,
                             obs, exp, check))
            if not passed:
                violations.append((run_id, part, rule, None, col, obs, exp, sev,
                                   expl, check))
    for b, plan in enumerate(plans):
        for part in sorted(n_rows[b]):
            for check, rule in plan.rules:
                n = counts.get((b, check, part, rule), 0)
                verdicts.append((run_id, part, rule, n == 0, n_rows[b][part], n,
                                 None, None, check))
        verdicts += plan.verdicts
        violations += plan.violations
    return verdicts, violations


def union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def execute(plans: list[CheckPlan], ctx: RunContext) -> tuple[list, list, DataFrame | None]:
    """Run ``plans`` with ONE small collect: returns the verdict rows and
    the driver-side violation rows (:func:`assemble`), and the persisted
    union of every plan's sparse violations (VIOLATION_COLS + check_id +
    ``__build``), or None when no plan has any. The counts are taken over
    the persisted frame, so the caller's read of the violations reuses
    it instead of planning them again; the caller unpersists it."""
    sparse = [p.sparse.withColumn("__build", F.lit(b))
              for b, p in enumerate(plans) if p.sparse is not None]
    small = [p.part_frame.withColumn("__build", F.lit(b))
             for b, p in enumerate(plans) if p.part_frame is not None]
    violations = None
    if sparse:
        violations = union_all(sparse).persist()
        none = F.lit(None).cast("string")
        small.append(
            violations.filter(F.col("part_id").isNotNull())
            .groupBy("__build", "check_id", "part_id", "rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("__build", F.lit("n").alias("__kind"), "check_id", "part_id",
                    "rule_id", "n", F.lit(None).cast("boolean").alias("passed"),
                    *[none.alias(c) for c in _SMALL_COLS[7:]]))
    rows = []
    try:
        if small:
            rows = [tuple(r) for r in union_all(
                [f.select(*_SMALL_COLS) for f in small]).collect()]
    except Exception:
        if violations is not None:
            violations.unpersist()
        raise
    verdicts, local = assemble(ctx.run_id, plans, rows)
    return verdicts, local, violations


def check_result(spark: SparkSession, plan: CheckPlan, ctx: RunContext) -> CheckResult:
    """A single build as a :class:`CheckResult` (no ``check_id`` column):
    :func:`execute`, then the driver-side rows as small frames. The
    persisted violations ride in ``resources``."""
    verdicts, local, sparse = execute([plan], ctx)
    v = spark.createDataFrame([r[:-1] for r in verdicts], VERDICT_SCHEMA)
    l = spark.createDataFrame([r[:-1] for r in local], VIOLATION_SCHEMA)
    resources = list(plan.resources)
    if sparse is not None:
        l = sparse.select(*VIOLATION_COLS).unionByName(l)
        resources.append(sparse)
    return CheckResult("+".join(plan.check_ids), v, l, resources=resources)


def spark_round_str(x: float, scale: int) -> str:
    """``CAST(round(x, scale) AS STRING)`` as Spark computes it, in Python:
    HALF_UP rounding of the double's shortest decimal form (Scala
    ``BigDecimal(d)``), then Java's ``Double.toString`` layout — plain
    decimals in [1e-3, 1e7), else ``d.dddE±n`` (``1.0E-4``)."""
    if x != x or x in (float("inf"), float("-inf")):
        return {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[repr(x)]
    r = float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP))
    if r == 0:
        return "0.0"
    sign, a = ("-", -r) if r < 0 else ("", r)
    d = Decimal(repr(a)).normalize()
    digits = "".join(map(str, d.as_tuple().digits))
    exp = d.adjusted()  # a = digits[0].digits[1:] × 10^exp
    if 1e-3 <= a < 1e7:
        if exp >= 0:
            whole, frac = digits[:exp + 1].ljust(exp + 1, "0"), digits[exp + 1:]
        else:
            whole, frac = "0", "0" * (-exp - 1) + digits
        return f"{sign}{whole}.{frac or '0'}"
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{exp}"


def severity_for_rate(rate_col):
    """Severity bucketing by violation rate — the reference's score→severity
    ranges (`src/utils/explanation_engine.py:23-39`) recast on rates."""
    return (
        F.when(rate_col >= 0.1, F.lit("Critical"))
        .when(rate_col >= 0.01, F.lit("High"))
        .when(rate_col >= 0.001, F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )
