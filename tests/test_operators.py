"""Dedup / knn / textstats / multimodal operators — known-answer tests."""

import pyspark.sql.functions as F
import pytest

from semantic_log_detector_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash60_md5,
    simhash_hamming_pairs,
    token_shingles,
)
from semantic_log_detector_spark.operators.knn import (
    brute_force_topk,
    embedding_dup_pairs,
    lsh_topk,
    norm_stats,
)
from semantic_log_detector_spark.operators.multimodal import (
    extract_media_features,
    synth_media,
)
from semantic_log_detector_spark.operators.textstats import (
    lang_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different text about spark and distributed query engines"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "der hund ist nicht auf der wiese und das ist ein problem mit der katze"),
        (6, "le chat est sur la table et le chien est dans le jardin pour la nuit"),
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


def test_exact_dedup_finds_planted_group(docs):
    groups = exact_dedup(docs, ["text"], "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["keep_id"] == 1
    assert sorted(groups[0]["dup_ids"]) == [1, 4]


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.5).collect()}
    assert (1, 4) in pairs  # exact dup: jaccard 1.0
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup shares most shingles


def test_ngram_jaccard_exact_baseline(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    # LSH candidates must be a subset-verified superset: every LSH pair is a
    # true pair at its threshold
    lsh = minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.5)
    for r in lsh.collect():
        assert r["jaccard"] >= 0.5


def test_simhash_identical_and_pairs(spark, docs):
    sh = docs.select("doc_id", simhash60_md5(F.col("text")).alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in sh}
    assert by_id[1] == by_id[4]  # identical text → identical simhash
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_hamming_pairs(docs, "text", "doc_id", max_hamming=3).collect()}
    assert pairs[(1, 4)] == 0


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["t"])
    sh = df.select(token_shingles(F.col("t"), 3).alias("s")).first()["s"]
    assert sorted(sh) == ["a b c", "b c d"]


def test_brute_force_topk_self_excluded(spark):
    vecs = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = df.select(F.col("vec_id").alias("q_id"), "embedding")
    b = df.select(F.col("vec_id").alias("b_id"), "embedding")
    out = brute_force_topk(q, b, k=2)
    assert out.filter("q_id = b_id").count() == 0
    assert out.groupBy("q_id").count().filter("count != 2").count() == 0


def test_lsh_topk_recall_against_exact(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    base = rng.standard_normal((200, 64))
    # plant near-identical neighbors so top-1 is unambiguous
    base[100:110] = base[:10] + rng.standard_normal((10, 64)) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)], ["vec_id", "embedding"]
    )
    q = df.filter("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
    b = df.select(F.col("vec_id").alias("b_id"), "embedding")
    exact_top1 = {
        r["q_id"]: r["b_id"] for r in brute_force_topk(q, b, k=1).collect()
    }
    lsh_rows = lsh_topk(q, b, k=1, dim=64, n_planes=6, n_tables=8).collect()
    lsh_top1 = {r["q_id"]: r["b_id"] for r in lsh_rows}
    hits = sum(1 for k, v in exact_top1.items() if lsh_top1.get(k) == v)
    assert hits >= 8  # ≥80% top-1 recall with 8 tables on planted near-dups


def test_embedding_dup_pairs_finds_planted(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    base = rng.standard_normal((100, 64))
    base[50] = base[0] + 0.001 * rng.standard_normal(64)  # planted near-dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(100)], ["vec_id", "embedding"]
    )
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs(df, threshold=0.99).collect()}
    assert (0, 50) in pairs


def test_norm_stats_values(spark):
    df = spark.createDataFrame([(0, [3.0, 4.0]), (0, [6.0, 8.0])], ["label", "embedding"])
    r = norm_stats(df, "label").first()
    assert r["n"] == 2 and r["norm_mean"] == 7.5 and r["norm_min"] == 5.0


def test_textstats(docs):
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
    ).collect()}
    assert out[1]["n"] == 13
    assert out[1]["lang"] == "en"
    assert out[5]["lang"] == "de"
    assert out[6]["lang"] == "fr"
    assert 0.0 <= out[3]["q"] <= 1.0


def test_lang_id_null_text_is_und(spark):
    # ADVICE round 3: regexp_count(NULL) is NULL per language, so without
    # an explicit null guard lang_id(NULL) leaked NULL instead of 'und'
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the cat sat on the mat")],
        "id long, text string",
    )
    out = {r["id"]: r["lang"] for r in df.select(
        "id", lang_id(F.col("text")).alias("lang")
    ).collect()}
    assert out[1] == "und" and out[2] == "und" and out[3] == "en"


def test_media_plumbing(spark):
    media = synth_media(spark, 100)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 100
    assert all(r["ok"] and len(r["features"]) == 8 for r in rows)
    # deterministic across runs
    again = extract_media_features(synth_media(spark, 100)).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_media_real_decode_raises(spark):
    media = synth_media(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|no in-container decoder"):
        extract_media_features(media, fake_decode=False).collect()


# ------------------------------------------- guard surfacing ("no silent caps")


def test_minhash_bucket_drop_is_surfaced(spark):
    # 60 docs sharing one text → every band bucket holds all 60 rows; with
    # max_bucket=10 the guard must drop them AND report the drop
    df = spark.createDataFrame(
        [(i, "the same stop text repeated for every document here") for i in range(60)],
        ["doc_id", "text"],
    )
    stats: dict = {}
    out = minhash_lsh_pairs(
        df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=10, drop_stats=stats
    )
    assert out.count() == 0  # all candidate buckets dropped
    assert stats["dropped_buckets"] > 0
    assert stats["dropped_bucket_rows"] >= 60
    assert stats["max_bucket"] == 10


def test_simhash_bucket_drop_is_surfaced(spark):
    df = spark.createDataFrame(
        [(i, "another identical stop document body for the bucket guard") for i in range(40)],
        ["doc_id", "text"],
    )
    stats: dict = {}
    out = simhash_hamming_pairs(df, "text", "doc_id", max_hamming=3, max_bucket=5,
                                drop_stats=stats)
    assert out.count() == 0
    assert stats["dropped_buckets"] > 0


def test_ngram_jaccard_df_guard(spark):
    # every doc shares the stop-shingle "a a a"; distinct tails pair nobody.
    # With max_df=5 the stop shingle leaves the universe: zero pairs, and
    # the drop is reported. Unguarded, 50 docs × shared shingle → 1225 pairs.
    docs = [(i, f"a a a tail{i} x{i} y{i}") for i in range(50)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    unguarded = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.01, max_df=None)
    assert unguarded.count() == 50 * 49 // 2
    stats: dict = {}
    guarded = ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.01, max_df=5, drop_stats=stats
    )
    assert guarded.count() == 0
    assert stats["dropped_shingles"] >= 1
    assert stats["dropped_postings"] >= 50


def test_ngram_jaccard_df_guard_filtered_universe_semantics(spark):
    # two docs: shared stop-shingle + one genuinely shared rare shingle.
    # Post-filter jaccard must be computed over the FILTERED universe
    # (sizes shrink too), not just a dropped intersection term.
    docs = [
        (1, "s s s p q r"),   # shingles: {s s s, s s p, s p q, p q r}
        (2, "s s s p q z"),   # shingles: {s s s, s s p, s p q, p q z}
        (3, "s s s m n o"),
        (4, "s s s m n w"),
        (5, "s s s d e f"),
        (6, "s s s d e g"),
        (7, "s s s h i j"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.1, max_df=6).collect()}
    # "s s s" df=7 > 6 → dropped; docs 1,2 still share {s s p, s p q}:
    # jaccard = 2 / (3 + 3 - 2) = 0.5 over the filtered universe
    assert out[(1, 2)] == 0.5


def test_pair_builders_are_pure_plan_constructors_without_aqe(spark):
    # with AQE off and no drop_stats, the dedup pair builders must run NO
    # Spark job at construction time (drop accounting rides the plan as
    # observed metrics, which work without AQE) — a caller that never
    # evaluates the result pays nothing
    df = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(8)],
        ["doc_id", "text"],
    )
    sc = spark.sparkContext
    group = "construction-must-be-lazy"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "plan construction")
    try:
        minhash_lsh_pairs(df, "text", "doc_id")
        simhash_hamming_pairs(df, "text", "doc_id")
        guarded = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.1, max_df=5)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # and the lazily-guarded plan still evaluates correctly
    assert guarded.count() >= 0


def test_max_bucket_none_is_explicit_unbounded_mode(spark):
    # None disables the cap AND the guard: the mono-bucket corpus that the
    # capped run drops entirely is fully paired, and construction runs no
    # guard job (nothing is dropped, nothing to account for)
    df = spark.createDataFrame(
        [(i, "the same stop text repeated for every document here") for i in range(30)],
        ["doc_id", "text"],
    )
    capped = minhash_lsh_pairs(df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=10)
    unbounded = minhash_lsh_pairs(df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=None)
    assert capped.count() == 0
    assert unbounded.count() == 30 * 29 // 2
    assert simhash_hamming_pairs(df, "text", "doc_id", max_bucket=None).count() == 30 * 29 // 2


def test_pair_builders_stay_lazy_and_warn_under_aqe(spark, caplog):
    # under AQE (the session default) the observed-metrics path is
    # known-broken (empty observation on a duplicated CollectMetrics
    # subtree). The guard must NOT fall back to an eager build-time count
    # — interleaved A/B at sf0.1 measured that job at +50-100% on the LSH
    # queries — it must stay a pure plan constructor and WARN that drop
    # counts are unavailable (dict mode is the guaranteed path, and every
    # shipped pipeline entrypoint passes a dict).
    import logging

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = spark.createDataFrame(
        [(i, "the same stop text repeated for every document here") for i in range(60)],
        ["doc_id", "text"],
    )
    sc = spark.sparkContext
    group = "construction-stays-lazy-under-aqe"
    sc.setJobGroup(group, "lazy guard")
    try:
        with caplog.at_level(
            logging.WARNING, logger="semantic_log_detector_spark.operators.dedup"
        ):
            out = minhash_lsh_pairs(
                df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=10
            )
        # no Spark job at construction time
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the caller was warned, with the remedy named
    assert any(
        "drop COUNTS are not observable" in r.getMessage()
        and "drop_stats" in r.getMessage()
        for r in caplog.records
    )
    # the cap itself still applies: the mono-bucket corpus is fully dropped
    assert out.count() == 0


def test_lazy_drop_metrics_ride_the_plan(spark):
    # lazy mode attaches the drop counts as observed metrics on the guard
    # subtree. Spark reports an empty observation for a CollectMetrics
    # node the pair self-join references twice UNDER AQE, so the check
    # that the plumbing is real runs with AQE off; the operator's
    # docstring documents that caveat and dict mode is the guaranteed path.
    df = spark.createDataFrame(
        [(i, "the same stop text repeated for every document here") for i in range(60)],
        ["doc_id", "text"],
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = minhash_lsh_pairs(
            df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=10
        )
        # collect(), not count(): count() runs as its own QueryExecution,
        # so the original frame's metrics accumulators would stay untouched
        assert out.collect() == []  # every bucket dropped by the guard
        om = out._jdf.queryExecution().observedMetrics()
        it = om.iterator()
        metrics = {}
        while it.hasNext():
            kv = it.next()
            row = kv._2()
            metrics[kv._1()] = (row.getLong(0), row.getLong(1))
        [(name, (n_buckets, n_rows))] = metrics.items()
        assert "minhash_lsh_pairs_drops_" in name
        assert n_buckets > 0 and n_rows >= 60
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_exact_dedup_dup_ids_capped(spark):
    df = spark.createDataFrame(
        [(i, "identical") for i in range(30)], ["doc_id", "text"]
    )
    r = exact_dedup(df, ["text"], "doc_id", max_dup_ids=10).first()
    assert r["n_dups"] == 30
    assert len(r["dup_ids"]) == 10
    assert r["dup_ids_truncated"] is True
    r2 = exact_dedup(df, ["text"], "doc_id", max_dup_ids=100).first()
    assert len(r2["dup_ids"]) == 30 and r2["dup_ids_truncated"] is False
    # top-K under the cap must be the SMALLEST ids, matching the uncapped
    # slice(sort_array(collect_list)) form
    assert sorted(r["dup_ids"]) == sorted(range(10))


def test_exact_dedup_capped_equals_collectlist_reference(spark):
    # the salted two-level top-K must be bit-equal to the naive
    # slice(sort_array(collect_list)) form on randomized multi-group input
    import random

    rng = random.Random(7)
    rows = []
    for g in range(12):
        n = rng.choice([1, 2, 3, 7, 150])
        ids = rng.sample(range(100000), n)
        rows += [(i, f"group-{g}") for i in ids]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    got = {
        r["content_hash"]: (r["n_dups"], r["keep_id"], r["dup_ids"], r["dup_ids_truncated"])
        for r in exact_dedup(df, ["text"], "doc_id", max_dup_ids=20).collect()
    }
    ref = (
        df.withColumn(
            "content_hash",
            F.md5(F.concat_ws("\x1f", F.coalesce(F.col("text"), F.lit("∅")))),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )
    want = {
        r["content_hash"]: (r["n_dups"], r["keep_id"], r["dup_ids"], r["n_dups"] > 20)
        for r in ref.collect()
    }
    assert got == want


def test_exact_dedup_null_ids_dont_consume_topk_slots(spark):
    # 20 null-id rows + 5 real ids in one dup group, cap 4: the cap must
    # keep 4 REAL ids (nulls sort first in a naive row_number and would
    # otherwise eat every slot, then vanish from collect_list)
    rows = [(None, "same") for _ in range(20)] + [(i, "same") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    r = exact_dedup(df, ["text"], "doc_id", max_dup_ids=4).first()
    assert r["n_dups"] == 25
    assert r["dup_ids"] == [0, 1, 2, 3]
    assert r["dup_ids_truncated"] is True
    # an all-null-id group still surfaces, with empty dup_ids
    df2 = spark.createDataFrame([(None, "x"), (None, "x")], "doc_id int, text string")
    r2 = exact_dedup(df2, ["text"], "doc_id").first()
    assert r2["n_dups"] == 2 and r2["dup_ids"] == []


# ------------------------------------- exact-complete simhash hamming search


def test_simhash_hamming_pairs_complete_vs_brute_force(spark, docs):
    sh = {r["doc_id"]: r["sh"] for r in
          docs.select("doc_id", simhash60_md5(F.col("text")).alias("sh")).collect()}
    want = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a in sh for b in sh if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           simhash_hamming_pairs(docs, "text", "doc_id", max_hamming=3).collect()}
    assert got == want  # pigeonhole banding is complete, not approximate
    assert (1, 4) in got and got[(1, 4)] == 0


def test_dim_stats_matches_numpy(spark):
    import numpy as np

    from semantic_log_detector_spark.operators.knn import dim_stats

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((50, 4))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)], ["vec_id", "embedding"]
    )
    rows = {r["dim"]: r for r in dim_stats(df).collect()}
    assert len(rows) == 4
    for d in range(4):
        assert rows[d]["n"] == 50
        assert abs(rows[d]["mean"] - round(float(mat[:, d].mean()), 6)) < 1e-6
        assert abs(rows[d]["std"] - round(float(mat[:, d].std(ddof=1)), 6)) < 1e-6
        assert rows[d]["mn"] == round(float(mat[:, d].min()), 6)


def test_ivf_topk_recall_and_exact_degradation(spark):
    import numpy as np

    from semantic_log_detector_spark.operators.knn import ivf_topk

    rng = np.random.default_rng(7)
    # 4 well-separated clusters of 50 vectors each
    centers = rng.standard_normal((4, 64)) * 10
    base = np.vstack([c + rng.standard_normal((50, 64)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)], ["vec_id", "embedding"]
    )
    q = df.filter("vec_id < 8").select(F.col("vec_id").alias("q_id"), "embedding")
    b = df.select(F.col("vec_id").alias("b_id"), "embedding")

    exact = {(r["q_id"], r["b_id"]) for r in brute_force_topk(q, b, k=3).collect()}

    # nprobe = n_cells → candidate set is the full base → exactly brute force
    full = {(r["q_id"], r["b_id"])
            for r in ivf_topk(q, b, k=3, n_cells=4, nprobe=4).collect()}
    assert full == exact

    # nprobe=1 on well-separated clusters: neighbors live in the query's own
    # cell → high recall at 1/4 of the search cost
    probe1 = {(r["q_id"], r["b_id"])
              for r in ivf_topk(q, b, k=3, n_cells=4, nprobe=1).collect()}
    assert len(probe1 & exact) / len(exact) >= 0.9

    # BOUNDED coarse-quantizer fit (the 10^12 default): training KMeans on
    # a fraction of the base must not change the full-probe answer — the
    # exact ranking is centroid-independent when every cell is probed
    sampled = {(r["q_id"], r["b_id"])
               for r in ivf_topk(q, b, k=3, n_cells=4, nprobe=4,
                                 max_train_vectors=60).collect()}
    assert sampled == exact
    # explicit sample_fraction override still honored
    frac = {(r["q_id"], r["b_id"])
            for r in ivf_topk(q, b, k=3, n_cells=4, nprobe=4,
                              sample_fraction=0.3).collect()}
    assert frac == exact


def test_dup_clusters_transitive_merge(spark):
    from semantic_log_detector_spark.operators.dedup import dup_clusters

    # chain 1-2-3 must collapse to ONE cluster; 7-8 is a separate pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
    )
    stats = {}
    rows = {r["id"]: r for r in dup_clusters(pairs, drop_stats=stats).collect()}
    assert {r["cluster_id"] for r in rows.values()} == {1, 7}
    assert rows[1]["cluster_size"] == 3 and rows[7]["cluster_size"] == 2
    assert rows[1]["is_canonical"] and rows[7]["is_canonical"]
    assert not rows[2]["is_canonical"] and not rows[8]["is_canonical"]
    assert stats["cc_converged"] and stats["cc_iterations"] <= 4


def test_dup_clusters_non_convergence_raises(spark):
    import pytest as _pytest

    from semantic_log_detector_spark.operators.dedup import dup_clusters

    # path graph of diameter 6 cannot converge in 1 iteration
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], ["id_a", "id_b"]
    )
    # max_local_edges=0 forces the distributed loop — the max_iters
    # contract under test belongs to it (the local path always converges)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iters=1, max_local_edges=0)


def test_dup_clusters_long_chain_converges_logarithmically(spark):
    # a chain-shaped near-dup cluster (sliding/versioned templates) of
    # diameter 200 — pure min-propagation needs 200 rounds and would abort
    # at the default max_iters=25; pointer jumping must converge in
    # O(log diameter) rounds and label every node with the chain min
    from semantic_log_detector_spark.operators.dedup import dup_clusters

    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    stats = {}
    rows = dup_clusters(chain, drop_stats=stats, max_local_edges=0).collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 1 and r["cluster_size"] == n for r in rows)
    assert sum(r["is_canonical"] for r in rows) == 1
    assert stats["cc_converged"] and stats["cc_iterations"] <= 12


def test_dup_clusters_local_fast_path_equals_distributed(spark):
    # round-6 counted-guard fast path: the driver-side numpy CC must be
    # row-for-row identical to the distributed loop on a mixed graph
    # (chain + star + isolated pairs), for long AND string ids
    from semantic_log_detector_spark.operators.dedup import dup_clusters

    edges = (
        [(i, i + 1) for i in range(1, 30)]            # chain
        + [(100, 100 + j) for j in range(1, 20)]      # star hub
        + [(1000 + 2 * j, 1001 + 2 * j) for j in range(10)]  # pairs
    )
    for typed in (edges, [(f"d{a:05d}", f"d{b:05d}") for a, b in edges]):
        pairs = spark.createDataFrame(typed, ["id_a", "id_b"])
        stats_l, stats_d = {}, {}
        local = dup_clusters(pairs, drop_stats=stats_l)
        dist = dup_clusters(pairs, drop_stats=stats_d, max_local_edges=0)
        assert stats_l.get("cc_local") is True
        assert "cc_local" not in stats_d
        # nullability is advisory metadata; names+types must match
        assert [(f.name, f.dataType) for f in local.schema] == \
            [(f.name, f.dataType) for f in dist.schema]
        assert sorted(map(tuple, local.collect())) == \
            sorted(map(tuple, dist.collect()))


def test_dup_clusters_cap_exceeded_runs_distributed(spark):
    from semantic_log_detector_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], ["id_a", "id_b"])
    stats = {}
    rows = dup_clusters(pairs, drop_stats=stats, max_local_edges=5).collect()
    # 19 pairs > cap=5 → distributed loop (telemetry shows iterations)
    assert "cc_local" not in stats and stats["cc_iterations"] >= 1
    assert all(r["cluster_id"] == 1 for r in rows)


def test_hash_split_deterministic_and_stratified(spark):
    from semantic_log_detector_spark.operators.splits import hash_split

    df = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    split = hash_split(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {
        r["split"]: r["n"]
        for r in df.groupBy(split.alias("split")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    # pure function of the id: identical assignment on re-evaluation
    again = {
        r["split"]: r["n"]
        for r in df.groupBy(split.alias("split")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == again


def test_hash_split_bad_fractions(spark):
    import pytest as _pytest

    from semantic_log_detector_spark.operators.splits import hash_split

    with _pytest.raises(ValueError):
        hash_split(F.col("doc_id"), {"train": 0.5, "val": 0.1})


def test_curate_documents_end_to_end(spark, docs):
    from semantic_log_detector_spark.operators.curate import (
        curate_documents,
        curation_summary,
    )

    stats = {}
    kept = curate_documents(
        docs, langs=(), min_quality=0.0, jaccard_threshold=0.5,
        exact_pairs=True, drop_stats=stats,
    )
    ids = {r["id"] for r in kept.collect()}
    # docs 1/2/4 are a near-dup cluster (jaccard ≥ 0.5) → only min id kept
    assert 1 in ids and 2 not in ids and 4 not in ids
    assert 3 in ids and 5 in ids and 6 in ids
    assert stats["cc_converged"]

    # language + quality filters narrow the kept set, never widen it
    en_only = {r["id"] for r in curate_documents(
        docs, langs=("en",), min_quality=0.0, jaccard_threshold=0.5,
        exact_pairs=True).collect()}
    assert en_only <= ids
    assert 5 not in en_only and 6 not in en_only  # de / fr docs

    row = curation_summary(kept).collect()[0]
    assert row["n_docs"] == len(ids)
    assert row["total_tokens"] > 0 and 0.0 <= row["avg_quality"] <= 1.0


def test_curate_lsh_default_path_known_answer(spark):
    """Round-3 verdict #2: machine-check the DEFAULT curation branch
    (exact_pairs=False → MinHash-LSH, the 100 TB path) end-to-end against
    a planted corpus where LSH recall is PROVABLY 1.0: each planted dup
    is a whitespace/case variant of its source — different bytes (so
    byte-level dedup can't see it) but an IDENTICAL shingle set after
    tokenization, hence identical MinHash signatures, hence a guaranteed
    collision in every band; precision is guaranteed by the operator's
    exact-Jaccard verification of candidates. The kept set is therefore
    an exact known answer, not a statistical one."""
    from semantic_log_detector_spark.operators.curate import curate_documents

    rows = []
    expected = set()
    for i in range(120):
        toks = [f"d{i}w{j}" for j in range(30)]  # disjoint vocabularies:
        rows.append((2 * i, " ".join(toks)))  # cross-content jaccard = 0
        expected.add(2 * i)
        if i % 3 == 0:
            # same token sequence, different bytes (case + spacing)
            rows.append((2 * i + 1, "  " + "  ".join(t.upper() for t in toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {}
    kept = curate_documents(
        df, langs=(), min_quality=0.0, exact_pairs=False, drop_stats=stats
    )
    got = {r["id"] for r in kept.select("id").collect()}
    assert got == expected  # every planted dup dropped, nothing else
    assert stats["cc_converged"]
    # and the default LSH branch agrees with the exact verification branch
    exact = {
        r["id"]
        for r in curate_documents(
            df, langs=(), min_quality=0.0, exact_pairs=True, drop_stats={}
        ).select("id").collect()
    }
    assert got == exact


def test_media_audio_real_decode(spark):
    import numpy as np

    from semantic_log_detector_spark.functions.audio import encode_wav

    sr = 16000
    t = np.arange(sr, dtype=np.float64) / sr
    pcm = (0.5 * np.sin(2 * np.pi * 440.0 * t)).astype(np.float32)
    wav = encode_wav(pcm, sr)
    df = spark.createDataFrame(
        [
            ("a1", "audio", bytearray(wav)),
            ("a2", "audio", bytearray(b"not a wav")),
            ("i1", "image", bytearray(b"img")),
        ],
        "media_id string, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert rows["a1"]["ok"] and rows["a1"]["real"]
    f = rows["a1"]["features"]
    assert abs(f[0] - 1.0) < 1e-6           # duration: 1 s of samples
    assert abs(f[1] - 0.5 / 2 ** 0.5) < 0.01  # rms of a 0.5-amplitude sine
    assert abs(f[2] - 0.5) < 0.01           # peak
    assert abs(sum(f[4:8]) - 1.0) < 1e-9    # band fractions sum to 1
    # non-RIFF audio payload and image both take the (marked) fake path
    assert rows["a2"]["ok"] and not rows["a2"]["real"]
    assert rows["i1"]["ok"] and not rows["i1"]["real"]


def test_hash_split_null_id_surfaces_as_null(spark):
    from semantic_log_detector_spark.operators.splits import hash_split

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    split = hash_split(F.col("doc_id"), {"train": 0.9, "test": 0.1})
    rows = {r["doc_id"]: r["s"] for r in df.select("doc_id", split.alias("s")).collect()}
    assert rows[1] in ("train", "test")
    assert rows[None] is None  # never silently bucketed into the last split


def test_media_single_sample_wav_no_nan(spark):
    import numpy as np

    from semantic_log_detector_spark.functions.audio import encode_wav

    wav = encode_wav(np.array([0.25], dtype=np.float32), 8000)
    df = spark.createDataFrame(
        [("s1", "audio", bytearray(wav))], "media_id string, kind string, payload binary"
    )
    r = extract_media_features(df).collect()[0]
    assert r["ok"] and r["real"]
    assert all(v == v for v in r["features"])  # no NaN
    assert r["features"][3] == 0.0  # zcr of a single sample


# --------------------------------------------------------- decontamination


def test_contamination_pairs_and_decontaminate(spark):
    from semantic_log_detector_spark.operators.dedup import (
        contamination_pairs,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # embeds the full benchmark text inside a longer doc → flagged
            (1, "intro words here the quick brown fox jumps over the lazy dog tonight and more trailing text"),
            # shares a few words only → not flagged at 0.8 containment
            (2, "the quick red car drives over the old bridge quietly"),
            (3, "completely unrelated sentence about spark physical plans"),
        ],
        ["doc_id", "text"],
    )
    pairs = contamination_pairs(
        corpus, bench, "text", "doc_id", shingle_n=3, min_containment=0.8
    ).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in pairs] == [(1, 100)]
    assert pairs[0]["containment"] == 1.0
    kept = decontaminate(
        corpus, bench, "text", "doc_id", shingle_n=3, min_containment=0.8
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]


def test_contamination_null_and_short_text_edges(spark):
    from semantic_log_detector_spark.operators.dedup import (
        contamination_pairs,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight"),
         (101, None),           # null-text benchmark row: excluded, never matches
         (102, "two words")],   # < shingle_n tokens: excluded
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix the quick brown fox jumps over the lazy dog tonight suffix"),
            (2, None),                      # null text must NOT match bench 101
            (3, "two words"),               # short text must NOT match bench 102
            (None, "prefix the quick brown fox jumps over the lazy dog tonight suffix"),
        ],
        "doc_id int, text string",
    )
    pairs = contamination_pairs(corpus, bench, "text", "doc_id", min_containment=0.8)
    flagged = {(r["doc_id"], r["bench_id"]) for r in pairs.collect()}
    assert flagged == {(1, 100), (None, 100)}
    # null-safe anti-join: the NULL-id contaminated row must be removed too
    stats: dict = {}
    kept = decontaminate(
        corpus, bench, "text", "doc_id", drop_stats=stats, min_containment=0.8
    )
    assert sorted(r["doc_id"] for r in kept.collect() if r["doc_id"] is not None) == [2, 3]
    assert kept.filter("doc_id is null").count() == 0
    assert stats["decontaminated_docs"] == 2
    # persisted intermediates were recorded for deterministic release
    from semantic_log_detector_spark.operators.dedup import unpersist_all

    assert len(stats.get("persisted", [])) >= 1
    released = unpersist_all(stats)
    assert released >= 1 and "persisted" not in stats


def test_contamination_broadcast_guard_falls_back_to_shuffle(spark):
    # identical results whether the benchmark postings are broadcast or
    # (over the cap) shuffled — the guard changes strategy, not semantics
    from semantic_log_detector_spark.operators.dedup import contamination_pairs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "x the quick brown fox jumps over the lazy dog tonight y"),
            (2, "completely unrelated sentence about spark physical plans"),
        ],
        ["doc_id", "text"],
    )
    via_bcast = contamination_pairs(
        corpus, bench, "text", "doc_id", min_containment=0.8
    ).collect()
    via_shuffle = contamination_pairs(
        corpus, bench, "text", "doc_id", min_containment=0.8,
        max_broadcast_postings=1,  # force the fallback
    ).collect()
    as_tuples = lambda rows: sorted(
        (r["doc_id"], r["bench_id"], r["inter"], r["containment"]) for r in rows
    )
    assert as_tuples(via_bcast) == as_tuples(via_shuffle) == [(1, 100, 8, 1.0)]


def test_token_frequencies_exact(spark):
    from semantic_log_detector_spark.operators.textstats import token_frequencies

    d = spark.createDataFrame(
        [(1, "the cat the dog"), (2, "the dog"), (3, ""), (4, "  CAT  ")],
        ["doc_id", "text"],
    )
    rows = {r["token"]: r for r in token_frequencies(d).collect()}
    assert rows["the"]["n_occurrences"] == 3 and rows["the"]["n_docs"] == 2
    assert rows["cat"]["n_occurrences"] == 2 and rows["cat"]["n_docs"] == 2  # lowered
    assert rows["dog"]["n_occurrences"] == 2 and rows["dog"]["n_docs"] == 2
    assert rows[""]["n_docs"] == 1  # empty text -> [''] token, counted (oracle twin)


def test_token_budget_sample_deterministic_and_bounded(spark):
    from semantic_log_detector_spark.operators.splits import token_budget_sample

    docs = [(i, f"s{i % 2}", "tok " * (10 + i % 5)) for i in range(200)]
    d = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    kept1 = sorted(r["id"] for r in token_budget_sample(d, 300).collect())
    kept2 = sorted(
        r["id"] for r in token_budget_sample(d.repartition(7), 300).collect()
    )
    assert kept1 == kept2 and len(kept1) > 0  # pure function of id — partitioning-proof
    # kept tokens per source converge to the budget (md5 uniformity, ±
    # sampling noise at 100 docs/source)
    per_src = {
        r["source"]: r["kt"]
        for r in token_budget_sample(d, 300)
        .groupBy("source").agg(F.sum("n_tokens").alias("kt")).collect()
    }
    for src, kt in per_src.items():
        assert 100 <= kt <= 600, (src, kt)
    # budget >= total keeps everything
    assert token_budget_sample(d, 10**9).count() == 200
    # null ids are dropped, not silently routed
    dn = spark.createDataFrame(
        [(None, "s0", "a b c"), (1, "s0", "a b c")],
        "doc_id int, source string, text string",
    )
    assert token_budget_sample(dn, 10**9).count() == 1


def test_repetition_stats_known_answer(spark):
    from semantic_log_detector_spark.operators.textstats import repetition_stats

    d = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab,ba,ab,ba,ab -> all dup; top 'a b' 3/5
            (2, "w x y z"),            # 3 bigrams, all unique
            (3, "hi"),                 # < 2 tokens -> zero row kept via spine
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in repetition_stats(d).collect()}
    assert rows[1]["n_grams"] == 5
    assert rows[1]["dup_gram_frac"] == 1.0
    assert rows[1]["top_gram_frac"] == 0.6 and rows[1]["top_gram"] == "a b"
    assert rows[2]["dup_gram_frac"] == 0.0 and rows[2]["top_gram_frac"] == round(1 / 3, 6)
    assert rows[3]["n_grams"] == 0 and rows[3]["dup_gram_frac"] == 0.0
    assert rows[3]["top_gram"] == ""
