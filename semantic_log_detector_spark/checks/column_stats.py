"""Per-column statistics profile — the flagship aggregation (SURVEY.md A1).

Reference: `src/ids/drift_baseline.py:19-56` computes, per feature column:
mean, std, min, max, median, q25, q75, skewness, kurtosis, num_zeros,
num_unique, count — one pandas pass per column. Here it is ONE Spark-wide
agg pass for all columns (Catalyst computes all partial aggregates
map-side in a single scan), unpivoted to one profile row per column.

Two layouts:

- ``profile(df, cols)``: global profile, single agg — partial (map-side)
  aggregation makes this skew-immune by construction; no salt needed.
- ``grouped_profile(df, key, cols, salt)``: per-group profile with an
  explicit two-level salted aggregation for skewed group keys (north_rule:
  "partitioning / shuffle / skew handled explicitly"): level 1 groups by
  (key, salt) — splitting a hot key across `salt` reducers — level 2
  merges the algebraic partials. Only algebraic stats (count/sum/min/max/
  moments) survive the merge; quantiles are excluded here by design and
  live in the global profile (percentile sketches would need a sketch
  union; fixed-bin histograms in drift.py cover the distribution shape).

`num_zeros` / null counts mirror drift_baseline.py:50-52 and the missing-
value report of data_loader.py:175-180.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import CheckResult, PartRule, RunContext, severity_for_rate
from .metadata import CheckSpec, one_check

_QUANTILE_ACC = 10_000  # percentile_approx accuracy (1/eps)


def _stat_exprs(c: str, with_quantiles: bool = True) -> list:
    col = F.col(c)
    exprs = [
        F.count(F.lit(1)).alias(f"{c}__count"),
        F.count(col).alias(f"{c}__n_nonnull"),
        F.avg(col.cast("double")).alias(f"{c}__mean"),
        F.stddev_samp(col.cast("double")).alias(f"{c}__std"),
        F.min(col.cast("double")).alias(f"{c}__min"),
        F.max(col.cast("double")).alias(f"{c}__max"),
        F.skewness(col.cast("double")).alias(f"{c}__skewness"),
        F.kurtosis(col.cast("double")).alias(f"{c}__kurtosis"),
        F.sum(F.when(col == 0, 1).otherwise(0)).alias(f"{c}__num_zeros"),
        F.approx_count_distinct(col).alias(f"{c}__num_unique"),
    ]
    if with_quantiles:
        exprs.append(
            F.percentile_approx(
                col.cast("double"), [0.25, 0.5, 0.75], F.lit(_QUANTILE_ACC)
            ).alias(f"{c}__q")
        )
    return exprs


_PROFILE_FIELDS = [
    "count", "n_nonnull", "null_rate", "mean", "std", "min", "max",
    "q25", "median", "q75", "skewness", "kurtosis", "num_zeros", "num_unique",
]


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One profile row per column: single wide agg pass, then unpivot.

    Output schema: (column, count, n_nonnull, null_rate, mean, std, min,
    max, q25, median, q75, skewness, kurtosis, num_zeros, num_unique).
    """
    agg = df.agg(*[e for c in cols for e in _stat_exprs(c)])
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__count").alias("count"),
            F.col(f"{c}__n_nonnull").alias("n_nonnull"),
            (1.0 - F.col(f"{c}__n_nonnull") / F.col(f"{c}__count")).alias("null_rate"),
            F.col(f"{c}__mean").alias("mean"),
            F.col(f"{c}__std").alias("std"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__q")[0].alias("q25"),
            F.col(f"{c}__q")[1].alias("median"),
            F.col(f"{c}__q")[2].alias("q75"),
            F.col(f"{c}__skewness").alias("skewness"),
            F.col(f"{c}__kurtosis").alias("kurtosis"),
            F.col(f"{c}__num_zeros").alias("num_zeros"),
            F.col(f"{c}__num_unique").alias("num_unique"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def grouped_profile(
    df: DataFrame, key: str, cols: list[str], salt_buckets: int = 16
) -> DataFrame:
    """Per-`key` stats via explicit two-level salted aggregation.

    Level 1: groupBy(key, salt) computes algebraic partials — a hot key
    (e.g. codec='pcm_s16le' at 80%) fans out over `salt_buckets` reducers
    instead of one. Level 2: groupBy(key) merges partials with exact
    count/sum/min/max algebra. Tested for exact equality vs the unsalted
    plan (test_column_stats.py) per SURVEY.md §7.3.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c != key][:1] or [F.rand(seed=0)]), F.lit(salt_buckets))
    lvl1 = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            *[e for c in cols for e in (
                F.count(F.col(c)).alias(f"{c}__nn"),
                F.sum(F.col(c).cast("double")).alias(f"{c}__sum"),
                F.sum(F.pow(F.col(c).cast("double"), 2)).alias(f"{c}__sum2"),
                F.min(F.col(c).cast("double")).alias(f"{c}__min"),
                F.max(F.col(c).cast("double")).alias(f"{c}__max"),
            )],
        )
    )
    merged = lvl1.groupBy(key).agg(
        F.sum("cnt").alias("count"),
        *[e for c in cols for e in (
            F.sum(f"{c}__nn").alias(f"{c}__n_nonnull"),
            F.sum(f"{c}__sum").alias(f"{c}__sum"),
            F.sum(f"{c}__sum2").alias(f"{c}__sum2"),
            F.min(f"{c}__min").alias(f"{c}__min"),
            F.max(f"{c}__max").alias(f"{c}__max"),
        )],
    )
    out_cols = [F.col(key), F.col("count")]
    for c in cols:
        nn = F.col(f"{c}__n_nonnull")
        mean = F.col(f"{c}__sum") / nn
        var = (F.col(f"{c}__sum2") - F.pow(F.col(f"{c}__sum"), 2) / nn) / (nn - 1)
        out_cols += [
            nn.alias(f"{c}_n_nonnull"),
            mean.alias(f"{c}_mean"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias(f"{c}_std"),
            F.col(f"{c}__min").alias(f"{c}_min"),
            F.col(f"{c}__max").alias(f"{c}_max"),
        ]
    return merged.select(*out_cols)


# ---------------------------------------------------------- stats-based check

DEFAULT_EXPECTATIONS = {
    # column -> (field, op, threshold); op ∈ {"<=", ">="}
    "sr_hz": [("null_rate", "<=", 0.01), ("min", ">=", 4000.0), ("max", "<=", 96000.0)],
    "dur_ms": [("null_rate", "<=", 0.01), ("min", ">=", 1.0)],
}


def stats_spec(
    expectations: dict[str, list[tuple[str, str, float]]] | None = None,
) -> CheckSpec:
    """Declarative threshold checks over the per-partition stats profile.

    The columns' algebraic stats join the shared groupBy(part_id);
    expectations are evaluated per partition as a projection of it
    (``PartRule``) → verdict rows. The violation row carries
    observed-vs-expected (explanation_engine.py semantics) with the
    partition as the offending scope (clip_id NULL).
    """
    expectations = expectations or DEFAULT_EXPECTATIONS
    part_aggs = tuple(
        e for c in expectations for e in (
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
            F.avg(F.col(c).cast("double")).alias(f"{c}__mean"),
        )
    )

    judged = []
    for c, exps in expectations.items():
        for field, op, thr in exps:
            if field == "null_rate":
                observed = 1.0 - F.col(f"{c}__nn") / F.col("n_rows")
            else:
                observed = F.col(f"{c}__{field}")
            ok = (observed <= thr) if op == "<=" else (observed >= thr)
            shown = F.round(observed, 6).cast("string")
            judged.append(PartRule(
                f"R017_stats_{c}_{field}",
                F.coalesce(ok, F.lit(True)),  # empty partitions pass
                shown, f"{c}.{field} {op} {thr}", c, severity_for_rate(F.lit(0.01)),
                F.concat(F.lit("partition stat out of bounds: observed="), shown),
            ))
    return CheckSpec("stats", part_aggs=part_aggs, judged=tuple(judged))


def stats_check(
    df: DataFrame,
    ctx: RunContext,
    expectations: dict[str, list[tuple[str, str, float]]] | None = None,
) -> CheckResult:
    """One grouped agg pass (by part_id) computes every column's algebraic
    stats; see :func:`stats_spec`."""
    return one_check(df, ctx, stats_spec(expectations))
