"""Referential integrity clips ↔ transcripts (SURVEY.md J1).

Reference: the id↔metadata side dicts of `src/detection/vector_db.py:65-66,
139-148` — an O(1) driver-side lookup that becomes a distributed join here.
Three rules:

- R030: clip has no transcript row (left_anti clips → transcripts)
- R031: transcript row is an orphan (left_anti transcripts → clips)
- R032: transcript text mismatch (inner join, equality per input_hint)

Join strategy is explicit (north_rule): ``strategy='auto'`` broadcasts the
transcript side when its *estimated* size fits `autoBroadcastJoinThreshold`
(or when forced via 'broadcast'); otherwise leaves it to sort-merge + AQE.
At 10^12 clips the transcripts dim is same-order ⇒ sort-merge; both sides
shuffle on clip_id once, and all three rules read that single
co-partition: one full_outer join, one projection (one join, not three).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import CheckResult, RunContext
from .metadata import CheckSpec, one_check

R_MISSING = "R030_transcript_missing"
R_ORPHAN = "R031_transcript_orphan"
R_MISMATCH = "R032_transcript_mismatch"


def referential_spec(transcripts: DataFrame, strategy: str = "auto") -> CheckSpec:
    """The three rules as one check of the shared metadata plan. An orphan
    transcript is counted in its own clip_id's partition; a partition with
    orphans but no clips has no verdict row (the grid spans the clips'
    partitions), its violation rows are still emitted."""
    if strategy not in ("auto", "broadcast", "sort_merge"):
        raise ValueError(f"unknown join strategy {strategy!r}")

    def violations(clips: DataFrame, ctx: RunContext) -> DataFrame:
        left = clips.select("clip_id", ctx.part_col, F.col("transcript").alias("_t_clip"))
        # transcripts get their part_id from their own clip_id (same hash) so
        # the orphan direction is partition-prunable too: a wave runs
        # clips[parts W] against transcripts[parts W] with no cross-wave
        # false orphans.
        right = transcripts.select(
            F.col("clip_id").alias("t_clip_id"),
            F.col("transcript").alias("_t_side"),
            F.pmod(F.xxhash64("clip_id"), F.lit(ctx.num_parts)).cast("int").alias("_t_part"),
        )
        if strategy == "broadcast":
            right = F.broadcast(right)
        # "auto" leaves it to Catalyst/AQE: broadcasts under
        # autoBroadcastJoinThreshold, sort-merge otherwise (AQE can still
        # convert at runtime).

        # ONE full_outer join on the key serves all three rules (single
        # shuffle), and ONE projection turns each joined row into its
        # violation (row_violations' array → compact → explode): filtered
        # branches of a union would be planned as a join each.
        j = left.join(right, left["clip_id"] == right["t_clip_id"], "full_outer")

        def hit(cond, clip_id, part, rule_id, observed, expected, severity, explanation):
            return F.when(cond, F.struct(
                clip_id.alias("clip_id"),
                part.cast("int").alias("part_id"),
                F.lit(rule_id).alias("rule_id"),
                observed.cast("string").alias("observed"),
                expected.cast("string").alias("expected"),
                F.lit(severity).alias("severity"),
                F.lit(explanation).alias("explanation"),
            ))

        clip, t_clip = F.col("clip_id"), F.col("t_clip_id")
        hits = F.array_compact(F.array(
            hit(t_clip.isNull(), clip, F.col(ctx.part_col), R_MISSING,
                F.lit(None), F.lit("transcript row exists"), "Medium",
                "clip has no transcript row"),
            hit(clip.isNull(), t_clip, F.col("_t_part"), R_ORPHAN, t_clip,
                F.lit("clip row exists"), "Medium",
                "transcript row references unknown clip"),
            hit(clip.isNotNull() & t_clip.isNotNull()
                & ~F.col("_t_clip").eqNullSafe(F.col("_t_side")),
                clip, F.col(ctx.part_col), R_MISMATCH,
                F.substring(F.coalesce(F.col("_t_side"), F.lit("∅")), 1, 64),
                F.substring(F.coalesce(F.col("_t_clip"), F.lit("∅")), 1, 64),
                "High", "transcript text differs between tables"),
        ))
        return j.select(F.explode(hits).alias("v")).select(
            F.lit(ctx.run_id).alias("run_id"),
            "v.part_id",
            "v.rule_id",
            "v.clip_id",
            F.lit("transcript").alias("column"),
            "v.observed",
            "v.expected",
            "v.severity",
            "v.explanation",
        )

    return CheckSpec("referential", rule_ids=(R_MISSING, R_ORPHAN, R_MISMATCH),
                     sparse=violations)


def referential_check(
    clips: DataFrame,
    transcripts: DataFrame,
    ctx: RunContext,
    strategy: str = "auto",
) -> CheckResult:
    return one_check(clips, ctx, referential_spec(transcripts, strategy))
