"""KLL quantiles from Spark's DataSketches aggregates
(``kll_sketch_agg_double`` / ``kll_merge_agg_double`` /
``kll_sketch_get_quantile_double``), checked against exact ranks.

Bound: ``kll_rank_error(k, delta=1e-6)``.  DataSketches documents the
normalized single-rank error as 2.296/k^0.9723 at 99% confidence (1.33%
at k=200), so a gate at that value would fail about once per 100
sketches.  The KLL bound grows as √ln(1/δ) (Karnin, Lang & Liberty
2016), so scaling it to δ = 1e-6 per sketch multiplies it by
√(ln 1e6 / ln 100) = √3 ≈ 1.73: 2.30% at k=200.  The build is unseeded,
so every check here fails with probability at most 1e-6 per sketch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark.sketch.bounds import kll_rank_error

PROBES = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
EPS = kll_rank_error(200, delta=1e-6)


def _quantiles(sketch_df, probes=PROBES):
    """The sketch's estimates at ``probes`` from a 1-row frame ``sk``."""
    arr = F.array(*[F.lit(q) for q in probes])
    return sketch_df.select(F.kll_sketch_get_quantile_double("sk", arr)).first()[0]


def _assert_ranks_within(df, ests, probes=PROBES, eps=EPS):
    """Each estimate's exact rank interval [#{v < est}, #{v ≤ est}] / n
    must come within ``eps`` of its probe (an interval, so that ties
    in discrete data count for the estimate)."""
    row = df.agg(
        F.count("v").alias("n"),
        *[F.sum((F.col("v") < e).cast("long")).alias(f"lo{i}") for i, e in enumerate(ests)],
        *[F.sum((F.col("v") <= e).cast("long")).alias(f"hi{i}") for i, e in enumerate(ests)],
    ).first()
    for i, q in enumerate(probes):
        lo, hi = row[f"lo{i}"] / row["n"], row[f"hi{i}"] / row["n"]
        assert lo - eps <= q <= hi + eps, (q, ests[i], lo, hi, eps)


_DISTS = {
    "uniform": "rand(17) * 1e6",
    "pareto": "pow(1 - rand(17), -1 / 1.5) - 1",
    "normal": "randn(17) * 3",
    "discrete": "CAST(floor(rand(17) * 50) AS DOUBLE)",
}


@pytest.mark.parametrize("dist", list(_DISTS))
def test_rank_error_within_bound(spark, dist):
    df = spark.range(200_000).selectExpr(f"{_DISTS[dist]} AS v").cache()
    try:
        sk = df.agg(F.kll_sketch_agg_double("v", 200).alias("sk"))
        _assert_ranks_within(df, _quantiles(sk))
    finally:
        df.unpersist()


def test_merge_any_order_stays_within_bound(spark):
    """``kll_merge_agg_double`` over 12 part sketches, in any input
    order, respects the same envelope (bitwise equality is not a KLL
    property — compaction is randomized)."""
    df = spark.range(150_000).selectExpr("id % 12 AS part", "rand(29) AS v").cache()
    try:
        parts = df.groupBy("part").agg(F.kll_sketch_agg_double("v", 200).alias("sk"))
        for ordered in (parts.orderBy("part"), parts.orderBy(F.desc("part")),
                        parts.repartition(5)):
            merged = ordered.agg(F.kll_merge_agg_double("sk").alias("sk"))
            assert merged.select(F.kll_sketch_get_n_double("sk")).first()[0] == 150_000
            _assert_ranks_within(df, _quantiles(merged))
    finally:
        df.unpersist()


def test_total_weight_conserved_exactly(spark):
    """The sketch's n is the exact count of its non-null items after any
    number of partial merges."""
    df = spark.range(100_000).selectExpr(
        "randn(3) AS v", "id % 17 AS part"
    ).repartition(9)
    parts = df.groupBy("part").agg(F.kll_sketch_agg_double("v", 64).alias("sk"))
    n = parts.agg(F.kll_sketch_get_n_double(F.kll_merge_agg_double("sk"))).first()[0]
    assert n == 100_000


def test_small_stream_is_exact(spark):
    # below capacity nothing compacts: quantiles and ranks are exact
    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS v")
    row = df.agg(F.kll_sketch_agg_double("v", 200).alias("sk")).select(
        F.kll_sketch_get_quantile_double(
            "sk", F.array(F.lit(0.0), F.lit(0.5), F.lit(1.0))
        ).alias("q"),
        F.kll_sketch_get_rank_double("sk", F.lit(49.0)).alias("r"),
    ).first()
    assert row["q"] == [0.0, 49.0, 99.0]
    assert row["r"] == 0.5


def test_nan_skipped_and_guards(spark):
    from pyspark.errors import PySparkException

    df = spark.createDataFrame([(1.0,), (float("nan"),), (3.0,), (None,)], "v double")
    sk = df.agg(F.kll_sketch_agg_double("v").alias("sk"))
    assert sk.select(F.kll_sketch_get_n_double("sk")).first()[0] == 2
    with pytest.raises(PySparkException, match="KLL_SKETCH_INVALID_QUANTILE_RANGE"):
        sk.select(F.kll_sketch_get_quantile_double("sk", F.lit(1.5))).collect()
    with pytest.raises(PySparkException, match="KLL_SKETCH_K_OUT_OF_RANGE"):
        df.agg(F.kll_sketch_agg_double("v", 4)).collect()
    empty = df.where("v IS NULL").agg(F.kll_sketch_agg_double("v").alias("sk"))
    with pytest.raises(PySparkException, match="KLL_INVALID_INPUT_SKETCH_BUFFER"):
        empty.select(F.kll_sketch_get_quantile_double("sk", F.lit(0.5))).collect()


def test_sketch_bytes_roundtrip_through_parquet(spark, tmp_path):
    """A sketch stored as bytes and read back answers as before and
    still merges (the DataSketches binary format is the state format)."""
    df = spark.range(50_000).selectExpr("rand(9) AS v")
    # collect once: every execution of an unseeded build compacts anew
    blob = df.agg(F.kll_sketch_agg_double("v", 128).alias("sk")).first()["sk"]
    sk = spark.createDataFrame([(blob,)], "sk binary")
    before = _quantiles(sk)
    path = str(tmp_path / "kll")
    sk.write.parquet(path)
    back = spark.read.parquet(path)
    assert _quantiles(back) == before
    merged = back.unionByName(back).agg(F.kll_merge_agg_double("sk").alias("sk"))
    assert merged.select(F.kll_sketch_get_n_double("sk")).first()[0] == 100_000


def test_distributed_build_matches_exact_quantiles(spark):
    df = spark.range(0, 100_000).selectExpr("CAST(id AS DOUBLE) AS v")
    sk = df.agg(F.kll_sketch_agg_double("v", 200).alias("sk"))
    assert sk.select(F.kll_sketch_get_n_double("sk")).first()[0] == 100_000
    for q, est in zip(PROBES, _quantiles(sk)):
        # values are 0..n-1, so the rank of est is (est + 1) / n
        assert abs((est + 1) / 100_000 - q) <= EPS, (q, est)


def test_kll_by_group_estimates_within_bound(spark):
    """Per-group sketches honor the envelope when groups straddle
    partitions (each partition builds only its slice of each group)."""
    df = spark.range(0, 90_000).selectExpr(
        "CAST(id % 3 AS STRING) AS grp", "CAST(id AS DOUBLE) AS v"
    ).repartition(11)
    arr = F.array(*[F.lit(q) for q in (0.1, 0.5, 0.9)])
    got = df.groupBy("grp").agg(
        F.kll_sketch_get_n_double(F.kll_sketch_agg_double("v", 200)).alias("n"),
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("v", 200), arr
        ).alias("qs"),
    ).collect()
    assert sorted(r["grp"] for r in got) == ["0", "1", "2"]
    for r in got:
        assert r["n"] == 30_000
        # group g holds values {g, g+3, g+6, ...}: quantile q ≈ 90000*q
        for q, est in zip((0.1, 0.5, 0.9), r["qs"]):
            assert abs(est / 90_000 - q) <= EPS, (r["grp"], q, est)


def test_by_group_all_null_group_has_empty_sketch(spark):
    """A group whose values are all NULL keeps its row with n = 0; its
    quantiles must be guarded, as ``streaming_quantiles`` does."""
    df = spark.range(0, 10).selectExpr(
        "id % 2 AS g", "CASE WHEN id % 2 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) END AS v"
    )
    n = F.kll_sketch_get_n_double(F.kll_sketch_agg_double("v"))
    got = {
        r["g"]: (r["n"], r["med"])
        for r in df.groupBy("g").agg(
            n.alias("n"),
            F.when(n > 0, F.kll_sketch_get_quantile_double(
                F.kll_sketch_agg_double("v"), F.lit(0.5))).alias("med"),
        ).collect()
    }
    assert got == {0: (0, None), 1: (5, 5.0)}


def test_kll_rejects_foreign_sketch_bytes(spark):
    from pyspark.errors import PySparkException

    hll = spark.range(100).agg(F.hll_sketch_agg("id").alias("sk"))
    with pytest.raises(PySparkException, match="KLL_INVALID_INPUT_SKETCH_BUFFER"):
        hll.select(F.kll_sketch_get_n_double("sk")).collect()
