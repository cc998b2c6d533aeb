"""Equivalence + skew-guard tests for the fuzzy-dedup scale paths.

Pins the two assumptions the oracle gate rests on (VERDICT r2 #2, ADVICE
r2 #5): (a) the LSH scale paths have 100% recall vs their brute-force
baselines ON THE CURRENT FIXTURES with the pinned seeds/banding — if a
fixture regeneration flips the driver's hash gate, these tests point at
recall, not at a code bug; (b) degenerate corpora (identical docs,
near-constant embeddings) stay LINEAR through the band-bucket cap while
clustering output stays correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark.operators.cluster import connected_components
from spark_skew_join_spark.operators.dedup import (
    embedding_near_dup,
    embedding_near_dup_lsh,
    minhash_pairs,
    ngram_jaccard_pairs,
)
from spark_skew_join_spark.operators.diagnostics import partition_stats
from spark_skew_join_spark.sources.tables import load_tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release_band_caches():
    """Operator-level LSH band persists are session-scoped by design; in a
    shared test session, release them after each test."""
    yield
    from spark_skew_join_spark.operators.dedup import clear_band_cache

    clear_band_cache()


def _pairs(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- recall pins

@pytest.mark.slow
def test_embedding_lsh_full_recall_vs_brute(spark):
    """Brute-force cosine pairs == LSH pairs on the fixtures (same threshold
    as the registered queries). Both share EMB_NEAR_DUP_SQL as oracle; this
    is the equivalence that lets the LSH path be the benched headline."""
    emb = load_tables(spark, SF)["embeddings"]
    brute = _pairs(
        embedding_near_dup(emb, threshold=0.4, dim=64), "id_a", "id_b"
    )
    lsh = _pairs(embedding_near_dup_lsh(emb, threshold=0.4), "id_a", "id_b")
    assert brute == lsh
    assert len(brute) > 0, "fixture has no qualifying pairs — test is vacuous"


@pytest.fixture(scope="module")
def exact_jaccard_05(spark):
    """(id_a, id_b, jaccard) of every pair at Jaccard >= 0.5, all-pairs."""
    docs = load_tables(spark, SF)["documents"]
    exact = ngram_jaccard_pairs(docs, threshold=0.5, n=8, cache_shingles=False)
    return _pairs(exact, "id_a", "id_b", "jaccard")


def test_minhash_full_recall_vs_exact_jaccard(spark, exact_jaccard_05):
    """MinHash-LSH finds every >=0.5-Jaccard pair on the fixtures and
    reports its exact Jaccard bit for bit: the per-pair verify gives the
    same doubles as the all-pairs shingle join (so equality is full
    recall AND exact precision)."""
    docs = load_tables(spark, SF)["documents"]
    mh = minhash_pairs(docs, threshold=0.5, n=8)
    assert _pairs(mh, "id_a", "id_b", "jaccard") == exact_jaccard_05
    assert exact_jaccard_05, "fixture has no qualifying pairs — test is vacuous"


@pytest.mark.parametrize(
    "cache_bands, margin", [(True, None), (True, 0.3), ("ckpt", 0.3), (False, 0.3)]
)
def test_minhash_exact_jaccard_in_every_cache_mode(
    spark, exact_jaccard_05, cache_bands, margin
):
    """The same exact output without the signature prefilter, and with
    the signature and bands persisted, checkpointed or not cached."""
    docs = load_tables(spark, SF)["documents"]
    mh = minhash_pairs(
        docs, threshold=0.5, n=8, cache_bands=cache_bands,
        sig_prefilter_margin=margin,
    )
    assert _pairs(mh, "id_a", "id_b", "jaccard") == exact_jaccard_05


def test_minhash_bucket_cap_is_noop_on_fixtures(spark):
    """The default cap must not fire on real fixtures — capped and uncapped
    outputs are identical (the cap only reshapes degenerate buckets)."""
    docs = load_tables(spark, SF)["documents"]
    capped = minhash_pairs(docs, threshold=0.5, n=8, max_bucket_size=1000)
    uncapped = minhash_pairs(docs, threshold=0.5, n=8, max_bucket_size=None)
    assert _pairs(capped, "id_a", "id_b") == _pairs(uncapped, "id_a", "id_b")


# ------------------------------------------------------- degenerate corpora

def test_identical_docs_stay_linear_and_cluster(spark):
    """1200 byte-identical docs, cap=100: every band bucket is over-cap, so
    candidates collapse to the 1199-pair star — O(n), not the ~720k-pair
    clique — and the star still verifies at jaccard 1.0 and clusters into
    ONE component (connectivity preserved through the anchor)."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.range(1200).select(
        F.col("id").alias("doc_id"), F.lit(base).alias("text")
    )
    pairs = minhash_pairs(docs, threshold=0.5, n=8, max_bucket_size=100)
    got = pairs.collect()
    assert len(got) == 1199
    assert all(r.id_a == 0 and r.jaccard == 1.0 for r in got)
    comp = connected_components(pairs.select("id_a", "id_b"), docs.select("doc_id"))
    assert comp.select("cluster_rep").distinct().count() == 1


@pytest.mark.slow
def test_bucket_cap_preserves_clustering(spark):
    """Property: whatever the cap does to the pair LIST, the cluster
    assignment must be invariant — star pairs keep every over-cap bucket
    connected, so capped and uncapped MinHash pipelines produce identical
    connected components. Randomized corpus of duplicated/mutated docs."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta"]
    rows, did = [], 0
    for base in range(12):
        text = " ".join(rng.choices(words, k=30)) + f" base{base}"
        for _ in range(rng.randint(1, 25)):  # clusters of identical docs
            rows.append((did, text))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def reps(max_bucket_size):
        pairs = minhash_pairs(
            docs, threshold=0.9, n=8, max_bucket_size=max_bucket_size
        ).select("id_a", "id_b")
        comp = connected_components(pairs, docs.select("doc_id"))
        return sorted((r.doc_id, r.cluster_rep) for r in comp.collect())

    assert reps(max_bucket_size=5) == reps(max_bucket_size=None)


@pytest.mark.slow
def test_near_constant_embeddings_stay_linear(spark):
    """800 near-identical vectors, cap=50: every band bucket degenerates to
    one code; the cap diverts them to the 799-pair star."""
    emb = spark.range(800).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[F.lit(1.0) + F.col("id").cast("double") / 1e9 for _ in range(8)]
        ).alias("embedding"),
    )
    pairs = embedding_near_dup_lsh(
        emb, threshold=0.99, dim=8, n_bands=4, band_bits=2, max_bucket_size=50
    )
    got = pairs.collect()
    assert len(got) == 799
    assert all(r.id_a == 0 for r in got)


def test_ivf_topk_recall_pin(spark):
    """IVF-flat ANN recall vs exact top-k at the registered query's params.
    The fixture corpus is near-orthogonal (worst case for IVF — neighbors
    scatter across lists), so the pin is 0.8 at n_probe=8/16; a fixture
    regeneration that drops below this points at recall, not a code bug."""
    from spark_skew_join_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_tables(spark, SF)["embeddings"]
    qs = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, qs, k=10, dim=64).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=8).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.8
    # determinism: same seed/sample -> identical result set
    ivf2 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=8).collect()
    }
    assert ivf == ivf2


def test_ivf_full_probe_equals_bruteforce(spark):
    """n_probe = n_centroids probes every inverted list, so IVF scores the
    whole corpus and equals brute force exactly — the ann_ivf_refined_topk
    certification setting (VERDICT r9 #4)."""
    from spark_skew_join_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_tables(spark, SF)["embeddings"]
    qs = emb.where(F.col("vec_id") < 5)
    brute = sorted(tuple(r) for r in cosine_topk(emb, qs, k=10, dim=64).collect())
    full = sorted(
        tuple(r)
        for r in ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=16).collect()
    )
    assert full == brute


# ------------------------------------------------- hot-shingle skew handling

@pytest.fixture(scope="module")
def hot_shingle_docs(spark):
    """300 docs sharing one ubiquitous 8-gram ("COMMONXY") plus unique tails:
    the shingle join's classic hot-key case — every doc meets every other
    doc on that one shingle."""
    return spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("COMMONXY "),
            F.lit("unique-content-"),
            F.col("id").cast("string"),
            F.lit("-tail padding text for shingling"),
        ).alias("text"),
    )


def test_skew_aware_shingle_join_equivalence(spark, hot_shingle_docs):
    from spark_skew_join_spark.conf import SkewJoinConf

    plain = ngram_jaccard_pairs(
        hot_shingle_docs, threshold=0.1, n=8, cache_shingles=False
    )
    skewed = ngram_jaccard_pairs(
        hot_shingle_docs, threshold=0.1, n=8, cache_shingles=False,
        skew_conf=SkewJoinConf(replication_factor=0.05, hot_threshold=50),
    )
    cols = ("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    assert _pairs(skewed, *cols) == _pairs(plain, *cols)


def test_skew_aware_shingle_join_balances_partitions(spark, hot_shingle_docs):
    """With AQE off (it would coalesce the comparison away), the fragment-
    replicate shingle join must spread the hot shingle's fan-out across
    partitions better than the plain equi-join concentrates it."""
    from spark_skew_join_spark.conf import SkewJoinConf
    from spark_skew_join_spark.operators.dedup import shingles
    from spark_skew_join_spark.operators.skew_join import skew_join

    sh = shingles(hot_shingle_docs, n=8)
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    old = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        plain_ratio = partition_stats(a.join(b, on="shingle")).skew_ratio
        skew_ratio = partition_stats(
            skew_join(
                a, b, "shingle", "inner",
                SkewJoinConf(replication_factor=0.05, hot_threshold=50),
            )
        ).skew_ratio
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert skew_ratio < plain_ratio, (skew_ratio, plain_ratio)

# ------------------------------------------------------- containment family

@pytest.mark.slow
def test_containment_scale_path_matches_exact(spark):
    """containment_for_pairs on an all-candidate list reproduces the exact
    all-pairs ngram_containment_pairs output — the equivalence that lets the
    candidate-scoped form be the scale path (exact all-pairs is the
    BENCH_EXCLUDEd oracle, like its Jaccard sibling)."""
    from spark_skew_join_spark.operators.dedup import (
        containment_for_pairs,
        ngram_containment_pairs,
        shingles,
    )

    docs = load_tables(spark, SF)["documents"]
    sh = shingles(docs, n=8).persist()
    try:
        exact = ngram_containment_pairs(
            docs, threshold=0.6, n=8, shingle_df=sh
        )
        # all unordered candidate pairs with any shingle overlap
        cands = (
            sh.select(F.col("doc_id").alias("id_a"), "shingle")
            .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        scale = containment_for_pairs(cands, sh).where(
            F.col("containment") >= 0.6
        )
        cols = ("inner_id", "outer_id", "inter", "size_inner", "size_outer")
        assert _pairs(exact, *cols) == _pairs(scale, *cols)
        assert exact.count() > 0, "fixture has no containment pairs — vacuous"
    finally:
        sh.unpersist()


def test_containment_is_directional(spark):
    """A small doc embedded in a big one scores containment 1.0 in the
    small→big direction while Jaccard stays below threshold — the case this
    operator exists for."""
    from spark_skew_join_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "the quick brown fox jumps over the lazy dog"
    # high-entropy suffix: distinct 8-grams, so |S_big| >> |S_small|
    big = small + " " + " ".join(str(i * 7919) for i in range(80))
    docs = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id int, text string"
    )
    cont = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in ngram_containment_pairs(docs, threshold=0.9, n=8).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] >= 0.99
    assert (2, 1) not in cont  # big is NOT contained in small
    jac = ngram_jaccard_pairs(docs, threshold=0.5, n=8).collect()
    assert jac == []  # Jaccard misses the asymmetric duplicate


def test_session_cache_ckpt_mode_truncates_and_releases(spark):
    # r14: mode="ckpt" must (a) truncate the logical plan to a
    # LogicalRDD leaf (the analysis barrier persist lacks), (b) keep
    # values identical, (c) release its RDD blocks via the ledger
    from pyspark.sql import functions as F

    from spark_skew_join_spark.operators.dedup import (
        _session_cache,
        clear_band_cache,
    )

    df = spark.range(200).selectExpr("id", "id * 3 as v")
    agg = df.groupBy((F.col("id") % 7).alias("k")).agg(F.sum("v").alias("s"))
    ck = _session_cache(agg, mode="ckpt")
    assert "LogicalRDD" in ck._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, ck.collect())) == sorted(
        map(tuple, agg.collect())
    )
    jsc = spark.sparkContext._jsc.sc()
    n_before = jsc.getPersistentRDDs().size()
    clear_band_cache()
    assert jsc.getPersistentRDDs().size() < n_before
