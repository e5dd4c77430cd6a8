"""Uniqueness check — hash-partitioned group-by on the key (SURVEY.md A5).

Reference: `src/ids/data_loader.py:189-194` (`df.drop_duplicates()`, count
removed). Here: ``groupBy(clip_id).count().filter(count > 1)`` — one hash
shuffle on the key. The duplicate *groups* are then re-joined (broadcast,
they're sparse) back to the input to recover every offending row, so the
violation rows name each duplicated clip occurrence, not just the key.

Scale: the groupBy partial-aggregates map-side; clip_id is near-unique so
no single reducer key is hot (no salt needed — the salt story applies to
low-cardinality skewed keys, see column_stats.grouped_profile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import CheckResult, RunContext, ensure_part_id
from .metadata import CheckSpec, one_check

RULE_ID = "R020_unique_clip_id"


def uniqueness_spec(key: str = "clip_id") -> CheckSpec:
    def violations(df: DataFrame, ctx: RunContext) -> DataFrame:
        dup_keys = (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1)
        )
        # duplicates are sparse ⇒ broadcast them back against the (pruned) input
        return (
            df.select(key, ctx.part_col)
            .join(F.broadcast(dup_keys), key, "inner")
            .select(
                F.lit(ctx.run_id).alias("run_id"),
                F.col(ctx.part_col).cast("int").alias("part_id"),
                F.lit(RULE_ID).alias("rule_id"),
                F.col(key).alias("clip_id"),
                F.lit(key).alias("column"),
                F.concat(F.lit("count="), F.col("dup_count")).alias("observed"),
                F.lit("count=1").alias("expected"),
                F.lit("High").alias("severity"),
                F.concat(F.lit("duplicate key appears "), F.col("dup_count"), F.lit(" times")).alias("explanation"),
            )
        )

    return CheckSpec("uniqueness", rule_ids=(RULE_ID,), sparse=violations)


def uniqueness_check(df: DataFrame, ctx: RunContext, key: str = "clip_id") -> CheckResult:
    return one_check(ensure_part_id(df, ctx, key=key), ctx, uniqueness_spec(key))
