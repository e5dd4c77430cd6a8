"""Per-clip kNN-distance anomaly scoring with explanations (SURVEY.md J4-J6).

The reference's flagship output path — distance-based anomaly scores
(`src/detection/anomaly_scorer.py:38-84`: mean of the k nearest L2
distances vs a percentile-fit baseline threshold) rendered into
human-readable explanations (`src/utils/explanation_engine.py:23-107`:
severity buckets, summary text, top-3 similar items, keyword-driven
recommendations). The north_star recasts that scorer as closed-form
PSI/KS drift (checks/drift.py); THIS module keeps the original per-row
semantics available as a first-class check so a reference user keeps
their per-item score + explanation surface.

Exact math parity with the reference:

- threshold  = linear-interpolated percentile of the baseline's own
  self-excluded kNN mean distances (`anomaly_scorer.py:38-42`,
  np.percentile == Spark `percentile` == DuckDB `quantile_cont`)
- score      = min(mean_distance / (2 * threshold), 1.0)   (:66)
- is_anomaly = mean_distance > threshold                   (:70)
- confidence = min(|mean - mean(baseline)| / max(std_pop(baseline),
               0.01) / 3, 1.0)  — np.std is the POPULATION std (:77-79)
- severity   = [0,.3) Low / [.3,.6) Medium / [.6,.8) High / [.8,1)
  Critical; score == 1.0 falls through the bucket scan and maps to
  Critical with the "Extremely anomalous" text (`explanation_engine.py:
  23-39`)
- recommendations: severity-tier base list + content keywords
  (error/fail, timeout, memory/cpu, auth/login) scanned over the item's
  text (`explanation_engine.py:82-107`)

Spark-first, scale story (10^12 scored rows):

- the kNN pass is `brute_force_topk` (broadcast baseline — the baseline
  is a bounded "normal" reference slice, exactly the reference's
  fit-on-normal protocol) or `lsh_topk` when the baseline itself is too
  big to broadcast (`ann='lsh'`); either way the per-query aggregation
  reuses the window's hash partitioning on the query id — ONE shuffle
  keyed by query id end-to-end.
- the baseline fit is a self-kNN over the baseline slice only (cost
  independent of the scored table) reduced to THREE scalars (threshold,
  mean, std_pop) broadcast into the scoring plan as literals via a
  1-row crossJoin — no driver round-trip per scored row.
- explanations are pure string/CASE expressions — whole-stage codegen,
  no Python anywhere.

Everything stays JVM-side; neighbor distances are the 6-dp-rounded topk
scores (knn.py rounds before ranking), so the oracle SQL replays the
identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.knn import brute_force_topk, lsh_topk
from .base import (
    CheckPlan,
    CheckResult,
    RunContext,
    check_result,
    ensure_part_id,
    part_frame,
    part_row_counts,
)

R_ANOMALY = "R070_knn_anomaly"

# auto-ANN counted guard (round 6, verdict item 3): with ann=None the kNN
# strategy is now CHOSEN by a cheap count of the baseline side — brute
# force (which broadcasts the baseline's vectors to every executor) only
# when the baseline is verified to fit, the bucketed LSH path above the
# cap. 100k × 64-d float64 vectors ≈ 50 MB broadcast — comfortably inside
# executor memory; past that the broadcast nested-loop join is the wrong
# default at corpus scale. Same device as dedup.decontaminate's
# max_broadcast_postings guard.
AUTO_BRUTE_MAX_BASELINE = 100_000


def _resolve_ann(baseline: DataFrame, ann: str | None, id_col: str,
                 auto_max: int) -> str | None:
    """None → counted auto-choice (brute below ``auto_max`` baseline rows,
    'lsh' above, WARNING logged either way the switch fires); 'brute' →
    force brute force; any other value passes through (e.g. 'lsh')."""
    if ann is not None:
        return None if ann == "brute" else ann
    n = baseline.select(id_col).count()
    if n <= auto_max:
        return None
    import logging

    logging.getLogger(__name__).warning(
        "anomaly: baseline has %d rows > auto_brute_max_baseline=%d — "
        "switching to the bucketed LSH kNN path (approximate). Pass "
        "ann='brute' to force the exact broadcast path.", n, auto_max)
    return "lsh"

# (upper_bound, level, description) — explanation_engine.py:23-28; the
# final row is the fall-through for score >= 1.0 (:35-39).
SEVERITY_LEVELS = [
    (0.3, "Low", "This log shows minor deviation from normal patterns."),
    (0.6, "Medium", "This log shows moderate deviation from established patterns."),
    (0.8, "High", "This log shows significant deviation that warrants investigation."),
    (1.0, "Critical", "This log is highly anomalous and requires immediate attention."),
]
FALLTHROUGH = ("Critical", "Extremely anomalous pattern detected.")

_BASE_RECS = {
    # explanation_engine.py:84-94
    "high": [
        "Investigate this log immediately",
        "Check related system components",
        "Review recent changes in the affected service",
    ],
    "medium": [
        "Monitor for recurring patterns",
        "Add to watchlist for future occurrences",
    ],
    "low": ["Continue monitoring; no immediate action required"],
}

# (keywords-any, recommendation) — explanation_engine.py:96-107
_CONTENT_RECS = [
    (("error", "fail"), "Check error handling and recovery mechanisms"),
    (("timeout",), "Review network connectivity and service dependencies"),
    (("memory", "cpu"), "Monitor resource utilization trends"),
    (("auth", "login"), "Review authentication logs for security concerns"),
]


def knn_mean_distance(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    query_id: str = "q_id",
    base_id: str = "b_id",
    vec_col: str = "embedding",
    ann: str | None = None,
    n_neighbors_kept: int = 3,
) -> DataFrame:
    """(id, mean_distance, top_neighbors, nn_distance) per query.

    mean_distance is the mean L2 distance to the k nearest baseline rows
    (anomaly_scorer.py:63 `np.mean(valid_distances)`); top_neighbors is
    the explanation engine's top-3 similar-items list (explanation_engine
    .py:55-61) flattened to "id;id;id" by rank. The groupBy rides the
    topk window's existing hash partitioning on the query id — Catalyst
    emits no second Exchange.
    """
    if ann == "lsh":
        pairs = lsh_topk(queries, base, k=k, query_id=query_id,
                         base_id=base_id, vec_col=vec_col)
        dist = (1.0 - F.col("score"))  # lsh ranks by cosine; convert to distance
    else:
        pairs = brute_force_topk(queries, base, k=k, query_id=query_id,
                                 base_id=base_id, vec_col=vec_col, metric="l2")
        dist = -F.col("score")  # l2 topk scores are negated distances
    pairs = pairs.withColumn("__dist", dist)
    return pairs.groupBy(query_id).agg(
        F.avg("__dist").alias("mean_distance"),
        F.concat_ws(
            ";",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rank"), F.col(base_id).alias("nid")))
                    ),
                    1,
                    n_neighbors_kept,
                ),
                lambda s: s["nid"].cast("string"),
            ),
        ).alias("top_neighbors"),
        F.min(F.when(F.col("rank") == 1, F.col("__dist"))).alias("nn_distance"),
    )


def fit_baseline(
    baseline: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_percentile: float = 95.0,
    ann: str | None = None,
) -> DataFrame:
    """1-row DataFrame (threshold, base_mean, base_std) from the baseline's
    self-excluded kNN mean distances — `fit_baseline` (anomaly_scorer.py:
    38-42) plus the mean/std the confidence term needs (:77-79, population
    std per np.std). Returned lazy so the caller can crossJoin it into the
    scoring plan (broadcast of one row) instead of collecting.
    """
    q = baseline.select(F.col(id_col).alias("q_id"), vec_col)
    b = baseline.select(F.col(id_col).alias("b_id"), vec_col)
    means = knn_mean_distance(q, b, k=k, vec_col=vec_col, ann=ann)
    return means.agg(
        F.expr(f"percentile(mean_distance, {threshold_percentile / 100.0!r})").alias("threshold"),
        F.avg("mean_distance").alias("base_mean"),
        F.stddev_pop("mean_distance").alias("base_std"),
    )


def _severity_cols(score):
    sev = F.lit(FALLTHROUGH[0])
    desc = F.lit(FALLTHROUGH[1])
    for hi, level, text in reversed(SEVERITY_LEVELS):
        sev = F.when(score < hi, F.lit(level)).otherwise(sev)
        desc = F.when(score < hi, F.lit(text)).otherwise(desc)
    return sev, desc


def _recommendations(severity, text_lower):
    """concat_ws('|', base-tier recs, matching content recs) — the exact
    list order of explanation_engine.py:82-109."""
    tier = (
        F.when(severity.isin("Critical", "High"), F.lit("|".join(_BASE_RECS["high"])))
        .when(severity == "Medium", F.lit("|".join(_BASE_RECS["medium"])))
        .otherwise(F.lit("|".join(_BASE_RECS["low"])))
    )
    parts = [tier]
    for keywords, rec in _CONTENT_RECS:
        hit = None
        for kw in keywords:
            c = text_lower.contains(kw)
            hit = c if hit is None else (hit | c)
        parts.append(F.when(F.coalesce(hit, F.lit(False)), F.lit(rec)).otherwise(F.lit("")))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, F.when(p == "", F.lit("")).otherwise(F.concat(F.lit("|"), p)))
    return out


def anomaly_explain(
    scored: DataFrame,
    baseline: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    text_col: str | None = None,
    threshold_percentile: float = 95.0,
    ann: str | None = None,
    auto_brute_max_baseline: int = AUTO_BRUTE_MAX_BASELINE,
) -> DataFrame:
    """Score every `scored` row against the `baseline` slice and attach the
    reference's full explanation record. Columns:

    id, mean_distance, anomaly_score, is_anomaly, confidence, severity,
    summary, top_neighbors, nn_distance, recommendations

    `scored` must carry (id_col, vec_col[, text_col]); text drives the
    content-keyword recommendations (empty text → tier recs only).

    ``ann=None`` (the default) resolves via the counted guard
    (`_resolve_ann`): exact brute force below ``auto_brute_max_baseline``
    baseline rows, the LSH path above it. ``ann='brute'`` / ``ann='lsh'``
    force a strategy explicitly.
    """
    ann = _resolve_ann(baseline, ann, id_col, auto_brute_max_baseline)
    fit = fit_baseline(baseline, k=k, id_col=id_col, vec_col=vec_col,
                       threshold_percentile=threshold_percentile, ann=ann)
    q = scored.select(F.col(id_col).alias("q_id"), vec_col)
    b = baseline.select(F.col(id_col).alias("b_id"), vec_col)
    means = knn_mean_distance(q, b, k=k, vec_col=vec_col, ann=ann)
    j = means.crossJoin(F.broadcast(fit))

    score = F.least(F.col("mean_distance") / (2.0 * F.col("threshold")), F.lit(1.0))
    is_anom = F.col("mean_distance") > F.col("threshold")
    conf = F.least(
        F.abs(F.col("mean_distance") - F.col("base_mean"))
        / F.greatest(F.col("base_std"), F.lit(0.01))
        / 3.0,
        F.lit(1.0),
    )
    sev, sev_desc = _severity_cols(score)
    out = j.select(
        F.col("q_id").alias("id"),
        F.round("mean_distance", 6).alias("mean_distance"),
        F.round(score, 6).alias("anomaly_score"),
        is_anom.alias("is_anomaly"),
        F.round(conf, 6).alias("confidence"),
        sev.alias("severity"),
        F.concat(sev, F.lit(" severity anomaly detected. "), sev_desc).alias("summary"),
        "top_neighbors",
        F.round("nn_distance", 6).alias("nn_distance"),
    )
    if text_col is not None:
        texts = scored.select(F.col(id_col).alias("id"),
                              F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__txt"))
        out = out.join(texts, "id", "left").withColumn("__txt", F.coalesce("__txt", F.lit("")))
    else:
        out = out.withColumn("__txt", F.lit(""))
    return out.withColumn(
        "recommendations", _recommendations(F.col("severity"), F.col("__txt"))
    ).drop("__txt")


def anomaly_check(
    scored: DataFrame,
    baseline: DataFrame,
    ctx: RunContext,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    text_col: str | None = None,
    threshold_percentile: float = 95.0,
    ann: str | None = None,
    auto_brute_max_baseline: int = AUTO_BRUTE_MAX_BASELINE,
) -> CheckResult:
    """Validation-engine wrapper: flagged rows (is_anomaly) become R070
    violation rows whose explanation IS the reference's explanation
    record (summary + neighbors + recommendations), observed = the score,
    expected = the fitted threshold band."""
    scored = ensure_part_id(scored, ctx, key=id_col)
    parts = scored.select(F.col(id_col).alias("id"), F.col(ctx.part_col))
    ex = anomaly_explain(scored, baseline, k=k, id_col=id_col, vec_col=vec_col,
                         text_col=text_col, threshold_percentile=threshold_percentile,
                         ann=ann,
                         auto_brute_max_baseline=auto_brute_max_baseline,
                         ).join(parts, "id", "left")
    violations = ex.filter(F.col("is_anomaly")).select(
        F.lit(ctx.run_id).alias("run_id"),
        F.col(ctx.part_col).cast("int").alias("part_id"),
        F.lit(R_ANOMALY).alias("rule_id"),
        F.col("id").cast("string").alias("clip_id"),
        F.lit(None).cast("string").alias("column"),
        F.concat(F.lit("score="), F.col("anomaly_score").cast("string"),
                 F.lit(" mean_dist="), F.col("mean_distance").cast("string")).alias("observed"),
        F.lit(f"mean kNN distance <= p{threshold_percentile:g} baseline threshold").alias("expected"),
        F.col("severity"),
        F.concat(F.col("summary"), F.lit(" similar=["), F.col("top_neighbors"),
                 F.lit("] recs: "), F.col("recommendations")).alias("explanation"),
        F.lit("anomaly").alias("check_id"),
    )
    plan = CheckPlan(("anomaly",), rules=[("anomaly", R_ANOMALY)], sparse=violations,
                     part_frame=part_frame(part_row_counts(scored, ctx), ctx))
    return check_result(scored.sparkSession, plan, ctx)
