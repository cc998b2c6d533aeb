"""Theta (KMV) sketches from Spark's DataSketches aggregates
(``theta_sketch_agg`` / ``theta_union_agg`` / ``theta_union`` /
``theta_intersection`` / ``theta_difference``), checked against exact
set sizes.

Bounds (``theta_error(lgNomEntries)`` = 3/√k, k = 2^lgNomEntries): a
theta estimate has RSE ≤ 1/√k (DataSketches theta documentation), so a
plain or union estimate is held within 3/√k of its exact count.
DataSketches states the error of an intersection or difference relative
to the union, so those are held within 3·|A ∪ B|/√k in absolute terms.
Below k distinct items the sketch is exact.  The build is deterministic
for a given input, so each check has a fixed outcome.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark.sketch.bounds import theta_error


def _sketch(df, col="k", lg=10):
    return df.agg(F.theta_sketch_agg(col, lg).alias("sk"))


def _est(sketch_df):
    return sketch_df.select(F.theta_sketch_estimate("sk")).first()[0]


def _pair(sa, sb):
    return sa.select(F.col("sk").alias("a")).crossJoin(
        sb.select(F.col("sk").alias("b"))
    )


def test_unsaturated_is_exact(spark):
    df = spark.range(1_000).selectExpr("id % 100 AS k")
    assert _est(_sketch(df, lg=8)) == 100


def test_estimate_envelope_and_set_ops(spark):
    """|A|, |B|, |A ∪ B| within 3/√k of exact; |A ∩ B| and |A ∖ B| within
    3·|A ∪ B|/√k (overlap J ≈ 0.25)."""
    a = spark.range(150_000).selectExpr("id AS k")
    b = spark.range(90_000, 300_000).selectExpr("id AS k")
    ta, tb, ti, tu = 150_000, 210_000, 60_000, 300_000
    lg = 10
    eps = theta_error(lg)
    sa, sb = _sketch(a, lg=lg), _sketch(b, lg=lg)
    row = _pair(sa, sb).select(
        F.theta_sketch_estimate("a").alias("a"),
        F.theta_sketch_estimate("b").alias("b"),
        F.theta_sketch_estimate(F.theta_union("a", "b", lg)).alias("u"),
        F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("i"),
        F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("d"),
    ).first()
    assert abs(row["a"] - ta) <= eps * ta
    assert abs(row["b"] - tb) <= eps * tb
    assert abs(row["u"] - tu) <= eps * tu
    assert abs(row["i"] - ti) <= eps * tu
    assert abs(row["d"] - (ta - ti)) <= eps * tu
    # the build is deterministic, so the tighter gate of 6·RSE of the
    # true value also holds for ∩, ∖ and the Jaccard ratio ∩/∪
    rse = 1 / math.sqrt(1 << lg)
    assert abs(row["i"] - ti) <= 6 * rse * ti
    assert abs(row["d"] - (ta - ti)) <= 6 * rse * (ta - ti)
    assert abs(row["i"] / row["u"] - ti / tu) <= 6 * rse * ti / tu
    # the aggregate forms of union and intersection obey the same bounds
    both = sa.unionByName(sb)
    u = both.agg(F.theta_sketch_estimate(F.theta_union_agg("sk", lg))).first()[0]
    i = both.agg(F.theta_sketch_estimate(F.theta_intersection_agg("sk"))).first()[0]
    assert abs(u - tu) <= eps * tu
    assert abs(i - ti) <= eps * tu


def test_merge_equals_oneshot_and_order_insensitive(spark):
    """A theta union keeps the k smallest hashes of its inputs, so
    ``theta_union_agg`` over part sketches gives the one-shot sketch's
    bytes, in any part order and partitioning."""
    df = spark.range(80_000).selectExpr("id % 7 AS part", "CAST(id AS STRING) AS k")
    oneshot = _sketch(df, lg=9).first()["sk"]
    est = _est(spark.createDataFrame([(oneshot,)], "sk binary"))
    assert abs(est - 80_000) <= theta_error(9) * 80_000
    parts = df.groupBy("part").agg(F.theta_sketch_agg("k", 9).alias("sk"))
    for ordered in (parts.orderBy("part"), parts.orderBy(F.desc("part")),
                    parts.repartition(3)):
        merged = ordered.agg(F.theta_union_agg("sk", 9).alias("sk")).first()["sk"]
        assert bytes(merged) == bytes(oneshot)
    resliced = _sketch(df.repartition(13), lg=9).first()["sk"]
    assert bytes(resliced) == bytes(oneshot)


def test_disjoint_intersection_is_zero(spark):
    s1 = _sketch(spark.range(0, 1_000).selectExpr("id AS k"), lg=6)
    s2 = _sketch(spark.range(5_000, 6_000).selectExpr("id AS k"), lg=6)
    row = _pair(s1, s2).select(
        F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("i"),
        F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("d"),
        F.theta_sketch_estimate(F.theta_union("a", "b", 6)).alias("u"),
    ).first()
    assert row["i"] == 0
    assert row["i"] / row["u"] == 0  # Jaccard
    assert abs(row["d"] - 1_000) <= theta_error(6) * 2_000


def test_spark_build_matches_local(spark):
    """A distributed build over many partitions gives the bytes of a
    single-partition build, within the envelope of the true count; the
    sketch of a half/half split unions back to the same bytes."""
    n = 30_000
    df = spark.range(n).selectExpr("id AS k")
    local = _sketch(df.coalesce(1), lg=9).first()["sk"]
    assert bytes(_sketch(df.repartition(8), lg=9).first()["sk"]) == bytes(local)
    est = spark.createDataFrame([(local,)], "sk binary")
    assert abs(_est(est) - n) <= theta_error(9) * n
    halves = _sketch(df.where("k % 2 = 0"), lg=9).unionByName(
        _sketch(df.where("k % 2 = 1"), lg=9)
    )
    merged = halves.agg(F.theta_union_agg("sk", 9).alias("sk")).first()["sk"]
    assert bytes(merged) == bytes(local)


def test_theta_by_group_matches_per_group_build(spark):
    rows = [(i % 3, i % 997 + 1_000 * (i % 3)) for i in range(20_000)]
    df = spark.createDataFrame(rows, "g int, k bigint")
    grouped = {
        r["g"]: (bytes(r["sk"]), r["e"])
        for r in df.groupBy("g").agg(F.theta_sketch_agg("k", 8).alias("sk"))
        .select("g", "sk", F.theta_sketch_estimate("sk").alias("e"))
        .collect()
    }
    assert set(grouped) == {0, 1, 2}
    for g in (0, 1, 2):
        solo = _sketch(df.where(f"g = {g}"), lg=8).first()["sk"]
        assert bytes(solo) == grouped[g][0]
        assert abs(grouped[g][1] - 997) <= theta_error(8) * 997


def test_null_group_caller_pattern(spark):
    """A NULL group keeps its own sketch next to the others, null items
    are skipped, and an unsaturated sketch counts each group exactly."""
    rows = ([(None, i) for i in range(300)]
            + [("p1", i) for i in range(200)]
            + [("p2", i + 100) for i in range(200)]
            + [("p2", None)] * 10)
    df = spark.createDataFrame(rows, "g string, k bigint")
    per = df.groupBy("g").agg(F.theta_sketch_agg("k", 9).alias("sk"))
    est = {r["g"]: r["e"] for r in per.select(
        "g", F.theta_sketch_estimate("sk").alias("e")).collect()}
    assert est == {None: 300, "p1": 200, "p2": 200}
    a, b = per.alias("a"), per.alias("b")
    inter = {
        (r["ga"], r["gb"]): r["i"]
        for r in a.join(b, F.col("a.g") < F.col("b.g")).select(
            F.col("a.g").alias("ga"), F.col("b.g").alias("gb"),
            F.theta_sketch_estimate(
                F.theta_intersection("a.sk", "b.sk")).alias("i"),
        ).collect()
    }
    # a NULL group never pairs through "<"; the real pair is exact
    assert inter == {("p1", "p2"): 100}


def test_theta_rejects_foreign_sketch_bytes_and_bad_lg(spark):
    """The DataSketches format carries its family, so HLL bytes are
    refused by the theta functions; lgNomEntries is range-checked."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    hll = spark.range(100).agg(F.hll_sketch_agg("id").alias("sk"))
    # Spark surfaces this one as the raw DataSketches exception
    with pytest.raises((PySparkException, Py4JJavaError)):
        hll.select(F.theta_sketch_estimate("sk")).collect()
    with pytest.raises(PySparkException, match="THETA_INVALID_LG_NOM_ENTRIES"):
        spark.range(10).agg(F.theta_sketch_agg("id", 2)).collect()
