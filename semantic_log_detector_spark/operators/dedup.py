"""Deduplication operators for large-scale training-data pipelines.

The reference removes exact duplicate rows (`src/ids/data_loader.py:189-194`);
a 100 TB corpus pipeline needs the full ladder: exact, MinHash+LSH, SimHash,
and n-gram Jaccard near-dup. Everything below is built-in-function Spark —
shingling, hashing, banding and verification all run in whole-stage codegen
(no Python UDFs): higher-order functions (transform/aggregate/array_*) do
the per-row array work JVM-side.

Scale notes:
- Shingle/signature computation is a narrow map — no shuffle.
- LSH banding shuffles (band_id, band_hash) key pairs; bucket sizes are the
  skew risk, so buckets above `max_bucket` are dropped AND the drop is
  surfaced — "no silent caps" (SURVEY.md §7.3). Pass a `drop_stats` dict
  for eager build-time counts (one tiny action + log). Without it: with
  AQE off the builders stay pure plan constructors (counts ride the plan
  as observed metrics); with AQE on (the session default) the observation
  is known-empty, so the guard falls back to the eager count — see
  `_surface_bucket_drops`. `max_bucket=None` is the explicit unbounded
  mode: no cap, no guard, no accounting needed.
- The exact inverted-index operator guards against stop-shingle quadratic
  blowup with a max-document-frequency cutoff (`max_df`): shingles present
  in more than max_df documents are removed from the shingle UNIVERSE
  (both intersections and set sizes), so the result is still a true
  Jaccard — of df-filtered shingle sets — and Σ df² is bounded by
  total_postings × max_df.
- Pair verification joins only within-bucket candidates, never all-pairs.
  Exact Jaccard verification re-joins the (small) candidate set against the
  shingle arrays by id — broadcastable when candidates are sparse.
"""

from __future__ import annotations

import itertools
import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


_OBS_SEQ = itertools.count()


def _surface_bucket_drops(
    sizes: DataFrame,
    max_bucket: int,
    op: str,
    drop_stats: dict | None,
) -> DataFrame:
    """Surface rows/buckets removed by the stop-bucket guard; returns the
    (possibly instrumented) sizes table to filter against.

    Two modes, so pair builders stay pure plan constructors when the
    passive instrumentation actually works:

    - ``drop_stats`` is a dict → the caller explicitly asked for counts at
      build time: one tiny eager action over the (checkpointed, shared)
      per-bucket size table fills the dict and logs. Costs a driver
      round-trip against a subtree the consuming join re-uses.
    - ``drop_stats`` is None, AQE disabled → NO Spark job runs here. The
      drop counts (dropped_buckets / dropped_bucket_rows) are attached as
      named observed metrics on the sizes subtree and collected during the
      eventual action (verified: with AQE off,
      ``queryExecution.observedMetrics`` carries the exact counts).
    - ``drop_stats`` is None, AQE **enabled** (the session default) → the
      observation path is known-broken: the pair self-joins reference the
      guarded subtree twice, and Spark reports an EMPTY observation for a
      duplicated CollectMetrics node under AQE. The guard STILL applies
      (over-cap buckets are dropped either way) but the drop COUNTS are
      not observable, so a WARNING is logged at build time telling the
      caller that pairs inside over-cap buckets are removed without
      runtime accounting and that dict mode gives guaranteed counts.
      An earlier build EAGER-counted here instead (a build-time job into
      an internal dict); interleaved A/B at sf0.1 measured that job at
      +50-100% end-to-end on the LSH queries (the synchronous count
      serializes the banding materialization), so the default stays a
      pure plan constructor and every shipped pipeline entrypoint
      (CLI run/curate, the runner, the stress bench) passes a dict."""
    if drop_stats is None:
        session = sizes.sparkSession
        aqe = (
            session.conf.get("spark.sql.adaptive.enabled", "true").lower()
            == "true"
        )
        if aqe:
            _LOG.warning(
                "%s: AQE is enabled — stop-bucket drop COUNTS are not "
                "observable at runtime (the cap still applies: pairs "
                "inside buckets larger than max_bucket=%d are NOT "
                "emitted). Pass drop_stats={} for guaranteed counts.",
                op, max_bucket,
            )
    if isinstance(drop_stats, dict):
        row = (
            sizes.filter(F.col("bsz") > max_bucket)
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.coalesce(F.sum("bsz"), F.lit(0)).alias("n_rows"),
            )
            .first()
        )
        stats = {
            "dropped_buckets": int(row["n_buckets"]),
            "dropped_bucket_rows": int(row["n_rows"]),
            "max_bucket": max_bucket,
        }
        drop_stats.update(stats)
        if stats["dropped_buckets"]:
            _LOG.warning(
                "%s: stop-bucket guard dropped %d buckets (%d postings) over"
                " max_bucket=%d — pairs within those buckets are NOT emitted",
                op, stats["dropped_buckets"], stats["dropped_bucket_rows"], max_bucket,
            )
        else:
            _LOG.info("%s: no buckets exceeded max_bucket=%d", op, max_bucket)
        return sizes
    over = F.col("bsz") > max_bucket
    name = f"{op}_drops_{next(_OBS_SEQ)}"
    _LOG.info(
        "%s: stop-bucket guard active (max_bucket=%d); drop counts ride "
        "the plan as observed metrics %r — pass drop_stats={} for "
        "guaranteed eager counts + warnings",
        op, max_bucket, name,
    )
    return sizes.observe(
        name,
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0)).alias(
            "dropped_buckets"
        ),
        F.coalesce(F.sum(F.when(over, F.col("bsz")).otherwise(0)), F.lit(0)).alias(
            "dropped_bucket_rows"
        ),
    )


def _track_persist(df: DataFrame, drop_stats: dict | None) -> DataFrame:
    """persist(MEMORY_AND_DISK) + record the handle for deterministic
    release: when the caller passed a ``drop_stats`` dict, the persisted
    frame is appended to ``drop_stats['persisted']`` so a batch driver can
    ``unpersist_all(drop_stats)`` between corpus passes instead of waiting
    on ContextCleaner GC / LRU eviction. Without the dict the previous
    behavior stands (blocks are released when the plan's references are
    GC'd or evicted LRU — degrade to recompute, never OOM)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if isinstance(drop_stats, dict):
        drop_stats.setdefault("persisted", []).append(df)
    return df


def unpersist_all(drop_stats: dict, blocking: bool = False) -> int:
    """Release every cache an operator recorded into ``drop_stats`` (see
    ``_track_persist``); returns the number of frames released. Idempotent
    — the handle list is consumed."""
    handles = drop_stats.pop("persisted", [])
    for df in handles:
        df.unpersist(blocking)
    return len(handles)


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism for the narrow per-document stage.

    A small corpus arrives as one or two parquet splits, so the
    shingling/signature projection — interpreted higher-order expressions,
    the most expensive narrow work in these pipelines — runs on one core
    while the rest idle (guide §2.5 "input skew": fix at the read).
    Repartition UP to the session default parallelism only when the input
    has fewer partitions; at corpus scale (scan partitions ≥ cores) this
    is a no-op, so no shuffle is ever added where data is already spread.
    Round-robin repartition is deterministic (sort-before-repartition is
    on by default) and every consumer below is partition-order-invariant
    (pair sets, hashes, exact counts), so results are unchanged.
    Measured at sf0.1 (5k docs, 1 scan partition, 32 cores): the shingle
    projection alone 2.6 s → 0.5 s."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # plans without a materializable RDD (streaming)
        return df
    if n >= target:
        return df
    return df.repartition(target)


def tokens(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_shingles(col: Column, n: int = 3) -> Column:
    """Token n-gram shingles as an array<string> (JVM higher-order fns).

    The token array is bound to a lambda variable (a one-element transform)
    so the text is split once per doc: a bare ``tokens(col)`` inside the
    shingle lambda is re-evaluated for every shingle, O(tokens²) per doc —
    ``shingle_hashes`` over 4,000 short docs on 4 cores took 1.2-1.6 s
    that way, 0.35-0.6 s bound."""

    def shingles(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))

    return F.transform(F.array(tokens(col)), shingles)[0]


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles as an array<long> of xxhash64 values.

    Same shingle SET as ``token_shingles`` (64-bit collisions are
    negligible at corpus scale: P≈k²/2⁶⁵); one extra interpreted
    transform on top of it, after which every downstream pass (MinHash
    permutations, joins, intersections) is numeric."""
    return F.transform(token_shingles(col, n), lambda s: F.xxhash64(s))


# ------------------------------------------------------------------ exact dup


def exact_dedup(
    df: DataFrame,
    cols: list[str],
    id_col: str,
    max_dup_ids: int = 100,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Exact duplicate groups by content hash: one hash-partitioned groupBy.

    Returns (content_hash, n_dups, keep_id, dup_ids, dup_ids_truncated) for
    groups with n>1. ``dup_ids`` is capped at ``max_dup_ids`` entries so a
    degenerate mono-key input (one hash dominating a 10^12-row corpus)
    cannot materialize an unbounded row; ``n_dups`` always carries the true
    count and ``dup_ids_truncated`` flags the overflow. Pass ``drop_stats``
    to collect the persisted-intermediate handle for deterministic release
    via ``unpersist_all`` between corpus passes."""
    from pyspark.sql import Window

    h = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in cols]))
    hashed = df.select(h.alias("content_hash"), F.col(id_col))
    # `groups` is consumed twice (the capped semi-filter and the final
    # join): persist the post-shuffle aggregate — one thin row per
    # duplicated hash — so the map-side-combined agg runs once. `hashed`
    # is deliberately NOT cached: it is corpus-sized, and its recompute is
    # a narrow scan+md5 with no shuffle (cheaper than caching 10^12 rows).
    groups = _track_persist(
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1),
        drop_stats,
    )
    # cap BEFORE the list aggregation, in two salted levels: per-salt-cell
    # row_number keeps ≤ max_dup_ids ids per (hash, salt) — a mono-key
    # corpus splits its sort across _NSALT tasks instead of one — then a
    # second row_number over ≤ _NSALT·max_dup_ids survivors picks the
    # global smallest ids. The union of per-salt top-Ks contains the
    # global top-K, so this is exact; the collect_list buffer downstream
    # never exceeds max_dup_ids per group.
    _NSALT = 64
    w1 = Window.partitionBy("content_hash", "salt").orderBy(id_col)
    w2 = Window.partitionBy("content_hash").orderBy(id_col)
    capped = (
        # null ids can't appear in dup_ids (collect_list skips them) —
        # filter them out BEFORE ranking so they don't consume top-K slots
        hashed.filter(F.col(id_col).isNotNull())
        .join(groups.select("content_hash"), "content_hash")
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(_NSALT))
        )
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= max_dup_ids)
        .withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= max_dup_ids)
    )
    id_lists = capped.groupBy("content_hash").agg(
        F.sort_array(F.collect_list(id_col)).alias("dup_ids")
    )
    return (
        # left join: a dup group whose ids are ALL null still surfaces
        # (with an empty dup_ids), matching the collect_list-only form
        groups.join(id_lists, "content_hash", "left")
        .withColumn(
            "dup_ids",
            F.coalesce(
                F.col("dup_ids"),
                F.array().cast(f"array<{df.schema[id_col].dataType.simpleString()}>"),
            ),
        )
        .withColumn("dup_ids_truncated", F.col("n_dups") > max_dup_ids)
    )


# --------------------------------------------------------------- MinHash + LSH


_MERSENNE = (1 << 61) - 1


def _band_buckets_udf(num_hashes: int, bands: int):
    """pandas UDF: array<long> shingle hashes → array<long> of per-band
    bucket keys.

    MinHash permutations are an (a·h + b) multiply-add family (seeded
    a/b, products wrap mod 2⁶⁴ then reduce mod 2⁶¹−1 — not a strict
    universal family, but a deterministic well-mixing one; recall vs the
    exact-Jaccard baseline is what the tests gate). Evaluated as ONE
    numpy broadcast per row (k-shingles × num_hashes multiply-add, min
    over shingles) — memory-bandwidth speed instead of num_hashes
    interpreted Catalyst passes. Band keys mix each signature slice with
    fixed odd multipliers so key equality ⇔ slice equality (whp)."""
    from pyspark.sql.functions import pandas_udf

    rows_per_band = num_hashes // bands
    rng = np.random.default_rng(0xD5ED)
    A = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64) | 1
    B = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    MIX = rng.integers(1, 1 << 62, size=rows_per_band, dtype=np.int64) | 1

    Au, Bu = A.astype(np.uint64), B.astype(np.uint64)
    Mx, Mm = MIX.astype(np.uint64), np.uint64(_MERSENNE)
    # cap the (Σ shingles × num_hashes) product matrix per vectorized chunk
    # (~32 MB of uint64 at the default): whole-batch concatenation at
    # 10k-row Arrow batches × O(100) shingles would allocate ~0.5 GB
    MAX_ELEMS = 4_000_000

    @pandas_udf("array<long>")
    def buckets(sh: pd.Series) -> pd.Series:
        # vectorized across rows: one multiply-add over the concatenated
        # shingle hashes per chunk, per-row mins via minimum.reduceat —
        # bit-identical to the per-row form, ~an order of magnitude less
        # Python/numpy dispatch overhead
        lists = sh.to_list()
        n = len(lists)
        lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=n)
        if (lens == 0).any():
            raise ValueError("minhash banding requires non-empty shingle sets")
        out: list[list[int] | None] = [None] * n
        i = 0
        while i < n:
            j, tot = i, 0
            while j < n and (tot == 0 or (tot + lens[j]) * num_hashes <= MAX_ELEMS):
                tot += lens[j]
                j += 1
            flat = np.concatenate(
                [np.asarray(lists[t], dtype=np.uint64) for t in range(i, j)]
            )
            sigs = ((flat[:, None] * Au) % Mm + Bu) % Mm
            offs = np.zeros(j - i, dtype=np.int64)
            np.cumsum(lens[i : j - 1], out=offs[1:])
            mins = np.minimum.reduceat(sigs, offs, axis=0)
            keys = (mins.reshape(j - i, bands, rows_per_band) * Mx).sum(
                axis=2, dtype=np.uint64
            ).astype(np.int64)
            for t in range(i, j):
                out[t] = keys[t - i].tolist()
            i = j
        return pd.Series(out)

    return buckets


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    doc_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """The per-document LSH signature table, one row per doc: (id, sh,
    bkeys) plus one column per ``doc_cols`` entry, evaluated in the same
    projection after the spread. Lazily checkpointed: the bucket-size
    broadcast, both sides of the candidate self-join and any filter over
    the ``doc_cols`` read it, so the corpus text is read once and no
    filter can be pushed below the spread's exchange."""
    return (
        _spread_small_input(df)
        .select(
            F.col(id_col).alias("id"),
            shingle_hashes(F.col(text_col), shingle_n).alias("sh"),
            *[c.alias(name) for name, c in (doc_cols or {}).items()],
        )
        # No size(sh)>0 guard filter here: token_shingles cannot return an
        # empty array (short/null docs fall back to one whole-text
        # shingle), and Catalyst would push such a filter BELOW the
        # projection (and the spread), evaluating the interpreted shingle
        # expression twice per row, once on the single input partition.
        # The banding UDF keeps its own explicit non-empty assertion as
        # the contract guard.
        .withColumn("bkeys", _band_buckets_udf(num_hashes, bands)(F.col("sh")))
        # without the checkpoint the shingle+UDF pipeline executes once per
        # consumer (measured 17s of a 28s q33 at sf0.1)
        .localCheckpoint(eager=False)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket: int | None = 200,
    drop_stats: dict | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verification.

    Band width r = num_hashes/bands ⇒ candidate prob ≈ 1-(1-j^r)^bands.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    Over-sized LSH buckets (stop-word buckets) are dropped with surfaced
    accounting: with a ``drop_stats`` dict the count is computed eagerly,
    logged and written into it (dropped_buckets / dropped_bucket_rows —
    the GUARANTEED mode, used by every shipped pipeline entrypoint);
    without one the count rides the plan as observed metrics when AQE is
    off, but under AQE (the session default) the observation is
    known-broken, so the cap still applies while the drop COUNTS are NOT
    available — a build-time WARNING says so (see
    ``_surface_bucket_drops``). NOTE the eager count MATERIALIZES the
    signature checkpoint before the caller's job runs — the blocks are
    reused (no duplicate work) but a query that would have overlapped
    this subtree with an independent branch (e.g. an exact-verification
    side) loses that concurrency; measured +4.6 s on the sf0.1 q33
    validation query. ``max_bucket=None`` disables the cap AND the guard
    entirely (explicit unbounded mode — nothing is dropped, so there is
    nothing to account for); use it for verification runs on corpora
    known to have no degenerate buckets.

    ``signatures`` is a ``minhash_signatures`` table the caller already
    built over ``df`` with the same num_hashes/bands/shingle_n (to carry
    per-doc columns of its own through the one corpus pass); without it
    the table is built here.
    """
    base = signatures if signatures is not None else minhash_signatures(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    banded = base.select(
        "id", "sh", F.posexplode("bkeys").alias("band", "bucket")
    )

    # stop-word-bucket guard: degenerate buckets explode quadratically.
    # max_bucket=None = explicit unbounded mode (no cap, no guard)
    if max_bucket is not None:
        sizes = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("bsz")
        )
        sizes = _surface_bucket_drops(
            sizes, max_bucket, "minhash_lsh_pairs", drop_stats
        )
        banded = banded.join(
            F.broadcast(sizes.filter(F.col("bsz") > max_bucket)),
            ["band", "bucket"],
            "left_anti",
        )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -------------------------------------------------------------------- SimHash


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash60_md5(text_col: Column) -> Column:
    """60-bit SimHash of the token set, built from bit-vote aggregation
    over the token array — single narrow projection, no explode/shuffle.

    The token hash is md5-derived (first 15 hex chars → long): unlike
    xxhash64, md5 is available in ANSI-SQL engines, so the signature is
    bit-reproducible by a DuckDB oracle. Bits are tested with bitwiseAND
    against a powers-of-two literal array (shiftleft needs a literal
    count); 60 bits keep the value positive and split into 4×15-bit
    pigeonhole bands (`hamming60_pairs`)."""
    toks = F.array_distinct(tokens(text_col))
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(59)),
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda vacc, h: vacc
                + F.when(h.bitwiseAND(F.element_at(masks, b + 1)) != 0, 1).otherwise(-1),
            )
            > 0,
            F.element_at(masks, b + 1),
        ).otherwise(F.lit(0).cast("long")),
    )


def hamming60_pairs(
    base: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = 1_000_000,
    drop_stats: dict | None = None,
    op: str = "hamming60_pairs",
) -> DataFrame:
    """EXACT Hamming-≤k pair search over any 60-bit signature, k < 4.

    ``base`` must have columns (id, sh) with sh a non-negative 60-bit
    long — a text SimHash (`simhash_hamming_pairs`) or an acoustic
    fingerprint (`audio_dedup.audio_dup_pairs`). With 4 pigeonhole bands
    of 15 bits, any pair within k ≤ 3 Hamming must agree on at least one
    whole band, so the banded self-join is COMPLETE — the result is
    exactly every pair with hamming(sh) ≤ k, which a SQL oracle can
    reproduce bit-for-bit (no LSH miss to excuse). The bucket guard
    defaults high because dropping buckets would break completeness.
    Drop accounting narrows with the session config: pass a
    ``drop_stats`` dict for GUARANTEED counts (one tiny eager action);
    with ``drop_stats=None`` counts ride observed metrics only when AQE
    is off — under AQE (the session default) the cap still applies but
    counts are unavailable and a build-time WARNING says so.
    Returns (id_a, id_b, hamming)."""
    base = base.localCheckpoint(eager=False)
    banded = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * 15).bitwiseAND(F.lit(0x7FFF)).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.key")
    if max_bucket is not None:  # None = explicit unbounded mode
        sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bsz"))
        sizes = _surface_bucket_drops(sizes, max_bucket, op, drop_stats)
        banded = banded.join(
            F.broadcast(sizes.filter(F.col("bsz") > max_bucket)),
            ["band", "key"], "left_anti",
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 1_000_000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """`hamming60_pairs` over the md5-60-bit text SimHash — the
    SQL-oracle-reproducible exact Hamming-≤k near-dup search. Bucket-drop
    accounting follows `hamming60_pairs`: guaranteed only with a
    ``drop_stats`` dict; under AQE the default is cap-with-WARNING,
    no counts."""
    base = _spread_small_input(df).select(
        F.col(id_col).alias("id"), simhash60_md5(F.col(text_col)).alias("sh")
    )
    return hamming60_pairs(
        base, max_hamming, max_bucket, drop_stats, op="simhash_hamming_pairs"
    )


# ------------------------------------------------------- duplicate clustering


def _dup_clusters_local(
    edges: DataFrame,
    id_dtype,
    n_edges: int,
    drop_stats: dict | None,
) -> DataFrame:
    """Driver-side connected components over a COUNTED small edge list —
    the tiny-graph fast path of ``dup_clusters`` (same device as the drift
    check's collected-histogram scoring): one ``toPandas`` of the already-
    materialized edge checkpoint, then the identical min-label-propagation
    + pointer-jumping algorithm vectorized in numpy. Replaces the
    per-iteration join/count jobs (4 Spark jobs × O(log d) rounds) with
    one collect. Labels, cluster ids, sizes and canonicals are exactly the
    distributed results: same algorithm, same min-id convention (numpy's
    sort order over int64/UTF-8 strings matches Spark's ordering)."""
    spark = edges.sparkSession
    id_t = id_dtype.simpleString()
    schema = f"id {id_t}, cluster_id {id_t}, cluster_size long, is_canonical boolean"
    if drop_stats is not None:
        drop_stats.update({"cc_iterations": 0, "cc_converged": True,
                           "cc_local": True, "cc_edges": n_edges})
    if n_edges == 0:
        return spark.createDataFrame([], schema)
    pdf = edges.toPandas()
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    e_src = inv[: len(src)]
    e_dst = inv[len(src):]
    labels = np.arange(len(ids))
    while True:
        nxt = labels.copy()
        # propagate: label(v) ← min(label(v), min(label(neighbors)))
        np.minimum.at(nxt, e_src, labels[e_dst])
        # pointer jump: label ← label(label) (labels are node indices)
        nxt = np.minimum(nxt, nxt[nxt])
        if np.array_equal(nxt, labels):
            break
        labels = nxt
    # flatten to roots (labels only decrease; fixpoint = component min)
    while not np.array_equal(labels[labels], labels):
        labels = labels[labels]
    sizes = np.bincount(labels, minlength=len(ids))
    out = pd.DataFrame({
        "id": ids,
        "cluster_id": ids[labels],
        "cluster_size": sizes[labels].astype("int64"),
        "is_canonical": labels == np.arange(len(ids)),
    })
    return spark.createDataFrame(out, schema=schema)


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    drop_stats: dict | None = None,
    max_local_edges: int | None = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → duplicate
    clusters with a canonical keep id (the last rung of the dedup ladder:
    pairs alone over-delete — A~B and B~C must collapse to ONE kept doc,
    not two independent pair-wise removals; the reference's
    `drop_duplicates` at `src/ids/data_loader.py:189-194` has no analog
    for transitive near-dups).

    Min-label propagation WITH pointer jumping, so convergence is
    O(log diameter) rounds, not O(diameter): each round does

    1. propagate:  label(v) ← min(label(v), min(label(neighbors)))
    2. jump:       label(v) ← label(label(v))

    Label values are always ids of nodes in v's own component (they start
    as ids and only ever copy other members' labels), so the jump is a
    self-join of the label table on ``label == id`` — it squares the
    effective propagation distance (after round k every label is the min
    of a ≥2^k-hop neighborhood), which is what makes a chain-shaped
    near-dup cluster (sliding/versioned templates, diameter ≫ 25)
    converge instead of aborting: diameter up to ~2^max_iters is fine.
    At the fixpoint labels are constant per component and equal the
    component min (labels only decrease, are member ids, and are locally
    minimal across every edge). Each round is two hash joins + one
    map-side-combined groupBy on the EDGE list only (the full corpus
    never enters the loop); labels are lazily checkpointed per round so
    lineage stays flat at 10^12-row scale.

    Returns (id, cluster_id, cluster_size, is_canonical) for every node
    that appears in ``pairs``; cluster_id = min id of the component,
    is_canonical marks the kept representative. Raises RuntimeError if
    not converged within ``max_iters`` (never silently truncates a
    component — but with pointer jumping that needs a component of
    diameter ~2^max_iters); iteration count is surfaced via
    ``drop_stats``/log. ``max_iters`` is caller-configurable end to end
    (curate_documents / CLI pass it through).

    ``max_local_edges`` (round 6): counted size guard for the tiny-graph
    fast path. The symmetric edge list is counted once (materializing the
    checkpoint the loop reuses); at or below the cap the SAME algorithm
    runs vectorized on the driver (`_dup_clusters_local` — one collect
    instead of 4 Spark jobs per round; measured q43 14.8 s → see
    OPTIMIZATION_r06.md), above it the distributed loop runs unchanged.
    ``max_local_edges=0``/None forces the distributed path (tests use it
    to keep gating the scale shape). ``drop_stats`` reports
    ``cc_local``/``cc_edges`` when the fast path ran.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=False)
    if max_local_edges:
        # counted guard (the decontaminate-broadcast device): one count —
        # which materializes the lazy edge checkpoint the distributed loop
        # would materialize anyway, so the over-cap case pays only a read
        # of the cached blocks — then the tiny-graph fast path when the
        # whole edge list fits comfortably on the driver. The dedup pair
        # graph is edge-scale (collisions only), so at bench/test scale
        # this replaces ~O(log d) rounds × 4 Spark jobs with one collect;
        # a corpus-scale graph exceeds the cap and runs the distributed
        # loop unchanged.
        n_edges = edges.count()
        if n_edges <= max_local_edges:
            return _dup_clusters_local(
                edges, pairs.schema[id_a].dataType, n_edges, drop_stats)
    labels = (
        edges.select("src").distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("label"))
        .localCheckpoint(eager=False)
    )
    converged = False
    iters_used = 0
    for i in range(max_iters):
        iters_used = i + 1
        nb_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nb_min"))
        )
        propagated = labels.join(
            nb_min, labels["id"] == nb_min["src"], "left"
        ).select(
            "id",
            F.least(F.col("label"), F.coalesce("nb_min", "label")).alias("label"),
        )
        # pointer jump: label ← label(label). Every label value is some
        # node's id, so the lookup always matches; left join + coalesce
        # keeps the row even if it somehow didn't.
        lookup = propagated.select(
            F.col("id").alias("l_id"), F.col("label").alias("l_label")
        )
        new_labels = (
            propagated.join(lookup, propagated["label"] == lookup["l_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("l_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.select("id", F.col("label").alias("old_label")), "id")
            .filter(F.col("label") != F.col("old_label"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            converged = True
            break
    if drop_stats is not None:
        drop_stats.update({"cc_iterations": iters_used, "cc_converged": converged})
    if not converged:
        raise RuntimeError(
            f"dup_clusters: min-label propagation did not converge within "
            f"{max_iters} iterations — component diameter exceeds the cap"
        )
    _LOG.info("dup_clusters: converged in %d iterations", iters_used)
    sizes = labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # plain equi-join (not a forced broadcast): cluster count is unbounded
    # at corpus scale — AQE promotes it to broadcast when it is small
    return (
        labels.select("id", F.col("label").alias("cluster_id"))
        .join(sizes, "cluster_id")
        .select(
            "id",
            "cluster_id",
            "cluster_size",
            (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


# -------------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Exact all-candidate Jaccard via inverted shingle index: explode
    shingles → self-join on shingle → pair intersection counts → filter.
    Exact (no LSH miss) — the baseline the LSH variants are verified
    against on samples.

    ``max_df`` is the stop-shingle guard: shingles present in more than
    max_df documents are removed from the shingle UNIVERSE — both the
    intersections and the per-document set sizes — so the output is still
    a true Jaccard (of df-filtered sets) and the self-join's per-shingle
    bucket is bounded: O(Σ df²) ≤ total_postings × max_df instead of
    quadratic on a corpus-scale stop-shingle. Dropped-shingle counts are
    computed eagerly, logged and written to ``drop_stats`` when a dict is
    provided; otherwise construction is plan-only and the counts are
    attached as diagnostic observed metrics (see
    ``_surface_bucket_drops`` for the AQE caveat). ``max_df=None``
    disables the guard (pure exact baseline for verification at sample
    scale)."""
    # hash AFTER explode: the projection over the generator output runs in
    # whole-stage codegen (hashing inside the higher-order transform would
    # be interpreted), and the self-join keys become fixed-width longs.
    # NO n_sh column through the Generate: Catalyst collapses a projection
    # carrying size(sh) into the Generate's required output and
    # re-evaluates the interpreted token_shingles expression PER EXPLODED
    # ROW (measured 0.37 s → 2.9 s at sf0.1 for the identical postings).
    # Per-doc set sizes are instead derived from the posting counts
    # (shingles are array_distinct, so count(postings per id) == n_sh —
    # exactly how the df-guarded branch below already computes them).
    # Lazy checkpoint: both sides of the self-join (and the df guard)
    # consume inv — without it the shingling executes once per consumer.
    inv = (
        _spread_small_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(F.col(text_col), shingle_n)).alias("s_str"),
        )
        .select("id", F.xxhash64("s_str").alias("s"))
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        stop = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("s_df"))
            .filter(F.col("s_df") > max_df)
        )
        rebuild = True
        if isinstance(drop_stats, dict):
            # caller opted into build-time accounting: one eager action
            # over the checkpointed postings, and the universe rebuild is
            # skipped entirely when nothing was dropped
            srow = stop.agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.coalesce(F.sum("s_df"), F.lit(0)).alias("n_postings"),
            ).first()
            stats = {
                "dropped_shingles": int(srow["n_shingles"]),
                "dropped_postings": int(srow["n_postings"]),
                "max_df": max_df,
            }
            drop_stats.update(stats)
            if stats["dropped_shingles"]:
                _LOG.warning(
                    "ngram_jaccard_pairs: df guard removed %d stop-shingles "
                    "(%d postings) with document frequency > %d from the "
                    "shingle universe",
                    stats["dropped_shingles"], stats["dropped_postings"], max_df,
                )
            else:
                _LOG.info("ngram_jaccard_pairs: no shingle exceeded max_df=%d", max_df)
            rebuild = stats["dropped_shingles"] > 0
        else:
            # pure plan builder: no Spark job at construction time. The
            # guard + universe rebuild go into the plan unconditionally
            # (a no-drop corpus filters nothing and recomputes identical
            # set sizes), and the drop counts ride along as diagnostic
            # observed metrics (see _surface_bucket_drops for the AQE
            # duplicated-subtree caveat). Unlike the bucket cap this
            # never loses PAIRS silently — the df-filtered-universe
            # semantics apply identically whether or not the counts are
            # observable — so under AQE (where the observation reads
            # empty) the right trade is a WARNING, not a blocking eager
            # count that would serialize the postings materialization.
            aqe = (
                stop.sparkSession.conf.get(
                    "spark.sql.adaptive.enabled", "true"
                ).lower()
                == "true"
            )
            if aqe:
                _LOG.warning(
                    "ngram_jaccard_pairs: AQE is enabled — stop-shingle drop "
                    "COUNTS are not observable at runtime (semantics are "
                    "unaffected: the df>max_df universe filter always "
                    "applies). Pass drop_stats={} for exact counts."
                )
            stop = stop.observe(
                f"ngram_jaccard_pairs_drops_{next(_OBS_SEQ)}",
                F.count(F.lit(1)).alias("dropped_shingles"),
                F.coalesce(F.sum("s_df"), F.lit(0)).alias("dropped_postings"),
            )
        if rebuild:
            # filtered universe: broadcast anti-join against the tiny stop
            # list, lazily PERSISTED — not localCheckpoint'ed (lazy
            # localCheckpoint above an AQE exchange materializes upstream
            # stages at build time) and not left bare (exchange reuse does
            # not fire across LogicalRDD scans, so each of the three
            # consumers — both self-join sides and the set-size agg —
            # would re-run the stop-agg shuffle). The cache computes the
            # guard once at first action and the observed drop metrics
            # report once. Set sizes join onto the (small) verified pair
            # aggregate at the END, not onto every posting. Cache
            # lifetime: handles land in drop_stats['persisted'] when a
            # dict was passed (release via unpersist_all); otherwise the
            # blocks are released when the returned plan's references are
            # GC'd (ContextCleaner) or on spark.catalog.clearCache();
            # under memory pressure the store evicts LRU, so repeated
            # calls degrade to recompute, never OOM.
            kept = _track_persist(
                inv.join(F.broadcast(stop.select("s")), "s", "left_anti")
                .select("id", "s"),
                drop_stats,
            )
            # per-doc set sizes are consumed by both end joins (na and nb)
            # — persist the thin (one row per doc) table so the postings
            # pass behind it runs once, not twice
            sizes = _track_persist(
                kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")),
                drop_stats,
            )
            a, b = kept.alias("a"), kept.alias("b")
            inter = (
                a.join(
                    b,
                    (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
                )
                .groupBy(
                    F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
                )
                .agg(F.count(F.lit(1)).alias("inter"))
                .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
                .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
            )
            return _jaccard_tail(inter, threshold)
    # per-doc set sizes from the posting counts (thin: one row per doc),
    # persisted because both end joins (na and nb) consume them — the
    # same tail shape as the filtered-universe branch above
    sizes = _track_persist(
        inv.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")),
        drop_stats,
    )
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
    )
    return _jaccard_tail(inter, threshold)


def _jaccard_tail(inter: DataFrame, threshold: float) -> DataFrame:
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
    )
    return inter.withColumn("jaccard", jac).filter(
        F.col("jaccard") >= threshold
    ).select("id_a", "id_b", "jaccard")


# ------------------------------------------------------------ decontamination


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    shingle_n: int = 3,
    min_containment: float = 0.8,
    max_broadcast_postings: int = 5_000_000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Benchmark-contamination detection: corpus documents that CONTAIN a
    benchmark document's shingles (training-data decontamination — the
    standard guard against test-set leakage into a pre-training corpus;
    the reference has no analog, this is a graft-new pipeline extra).

    Containment is benchmark-centric: |shingles(doc) ∩ shingles(bench)| /
    |shingles(bench)| ≥ ``min_containment`` — a corpus doc that embeds a
    whole benchmark item is flagged even when the corpus doc is much
    longer (plain Jaccard would dilute it).

    Scale shape: the benchmark is small by nature (10³–10⁶ items), so its
    exploded shingle postings are BROADCAST when they fit — the 100 TB
    corpus is scanned once with a narrow map + broadcast hash join (no
    corpus-side shuffle of postings); only MATCHED postings (rare) reach
    the pair aggregation. The broadcast is GUARDED: the posting count is
    measured with one cheap action over the benchmark side only (sum of
    per-item shingle counts — the corpus is never touched), and above
    ``max_broadcast_postings`` (default 5M rows ≈ low hundreds of MB
    exploded — near Spark's 8 GB broadcast-table hard limit once built
    into a hash relation, and heavy on every executor) the hint is
    DROPPED and the join falls back to a plain shuffle hash join instead
    of failing at runtime at the docstring's upper range (10⁶ items ×
    O(100) shingles ≈ 10⁸ postings).
    Returns (doc_id, bench_id, inter, containment).

    Documents with fewer than ``shingle_n`` tokens (incl. null/blank text)
    are excluded from BOTH sides: token_shingles' short-doc fallback is a
    single whole-text shingle, under which every null-text pair would
    spuriously report containment 1.0 — and shingle containment is
    meaningless below one full shingle anyway.
    """
    bench_text_col = bench_text_col or text_col
    bench_id_col = bench_id_col or id_col
    corp = (
        corpus.filter(F.size(tokens(F.col(text_col))) >= shingle_n)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(token_shingles(F.col(text_col), shingle_n)).alias("s_str"),
        )
        .select("doc_id", F.xxhash64("s_str").alias("s"))
    )
    bench_sh = (
        benchmark.filter(F.size(tokens(F.col(bench_text_col))) >= shingle_n)
        .select(
            F.col(bench_id_col).alias("bench_id"),
            token_shingles(F.col(bench_text_col), shingle_n).alias("sh"),
        )
        .withColumn("bench_n_sh", F.size("sh"))
    )
    # lazily persist the thin per-item table: the posting-count probe and
    # the exploded postings both read it, so shingling runs once; it is
    # benchmark-sized (small), unlike the corpus side. Handle recorded in
    # drop_stats['persisted'] for unpersist_all when a dict is passed.
    bench_sh = _track_persist(bench_sh, drop_stats)
    bench_inv = bench_sh.select(
        "bench_id", "bench_n_sh", F.explode("sh").alias("sh_str")
    ).select("bench_id", "bench_n_sh", F.xxhash64("sh_str").alias("s"))
    n_postings = int(
        bench_sh.agg(F.coalesce(F.sum("bench_n_sh"), F.lit(0))).first()[0]
    )
    if n_postings <= max_broadcast_postings:
        matched = corp.join(F.broadcast(bench_inv), "s")
    else:
        _LOG.warning(
            "contamination_pairs: benchmark posting list has %d rows > "
            "max_broadcast_postings=%d — falling back to a shuffle join "
            "(corpus postings will shuffle on shingle hash)",
            n_postings, max_broadcast_postings,
        )
        matched = corp.join(bench_inv, "s")
    return (
        matched.groupBy("doc_id", "bench_id", "bench_n_sh")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "containment",
            F.round(F.col("inter") / F.col("bench_n_sh"), 6),
        )
        .filter(F.col("containment") >= min_containment)
        .select("doc_id", "bench_id", "inter", "containment")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_stats: dict | None = None,
    **kw,
) -> DataFrame:
    """Corpus minus contaminated documents: null-safe left_anti against
    the flagged ids from ``contamination_pairs`` (same kwargs).

    With a ``drop_stats`` dict the flagged-id set is persisted and counted
    eagerly (``decontaminated_docs``) so the expensive contamination join
    runs ONCE — the count action materializes the (tiny) cache that the
    anti-join then reuses. The join is null-safe: a contaminated row with
    a NULL id must not slip past the leakage guard (plain equality never
    matches NULL). Persisted intermediates (here and inside
    ``contamination_pairs``) are recorded in ``drop_stats['persisted']``
    for deterministic release via ``unpersist_all``."""
    flagged = contamination_pairs(
        corpus, benchmark, text_col=text_col, id_col=id_col,
        drop_stats=drop_stats, **kw
    ).select(F.col("doc_id").alias("__flagged_id")).distinct()
    if drop_stats is not None:
        flagged = _track_persist(flagged, drop_stats)
        drop_stats["decontaminated_docs"] = flagged.count()
    return corpus.join(
        flagged,
        F.col(id_col).eqNullSafe(F.col("__flagged_id")),
        "left_anti",
    )
