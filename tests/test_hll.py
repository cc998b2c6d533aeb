"""HLL distinct counts from Spark's DataSketches aggregates
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``),
checked against exact counts.

Bound: ``hll_error(lgK)`` = 3 · 1.04/√2^lgK, three standard errors of
the HLL estimate (Flajolet et al. 2007; DataSketches documents the same
RSE for its HLL sketch).  ``hll_sketch_agg`` folds its per-partition
sketches with the same union ``hll_union_agg`` uses, so a sketch built
over two or more partitions, each past coupon mode, does not depend on
how its input is split (a one-partition build runs no union and keeps
the HIP estimator), and each check below has a fixed outcome.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark.sketch.bounds import hll_error
from spark_skew_join_spark.sketch.cms import key_hash


def _est(df, item, lg_k=14):
    return df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(item, lg_k)).alias("e")
    ).first()["e"]


def test_hll_estimate_within_3sigma(spark):
    # two sketch sizes, three cardinalities each, one of them above K
    for lg_k in (10, 14):
        for n in (1_000, 50_000, 200_000):
            est = _est(spark.range(n), "id", lg_k)
            assert abs(est - n) <= hll_error(lg_k) * n, (lg_k, n, est)


def _union(sketches):
    """``hll_union_agg`` over a one-column DataFrame of sketch bytes."""
    return sketches.agg(F.hll_union_agg("sk").alias("sk")).first()["sk"]


def test_hll_merge_equals_single_build(spark):
    """Merging is exact, not approximate: ``hll_sketch_agg`` folds its
    per-partition sketches with the same DataSketches union, so unioning
    per-part sketches gives the very bytes of one whole-input build, and
    a sketch unioned in twice moves nothing (register max is idempotent).

    The input has 8 partitions, so the whole-input build merges too.  A
    build over one partition never runs a union and keeps DataSketches'
    HIP estimator; any union switches to the composite estimator, so
    only the registers would then agree."""
    df = spark.range(0, 80_000, 1, 8).selectExpr("id", "id % 5 AS part")
    whole = df.agg(F.hll_sketch_agg("id", 12).alias("sk")).first()["sk"]
    parts = df.groupBy("part").agg(F.hll_sketch_agg("id", 12).alias("sk"))
    merged = _union(parts.select("sk"))
    assert bytes(merged) == bytes(whole)
    again = _union(
        parts.select("sk").unionByName(
            spark.createDataFrame([(whole,)], "sk binary")
        )
    )
    assert bytes(again) == bytes(whole)
    # a different input partitioning folds to the same sketch
    resliced = df.repartition(9).agg(F.hll_sketch_agg("id", 12).alias("sk"))
    assert bytes(resliced.first()["sk"]) == bytes(whole)


def test_per_source_merge_equals_whole_corpus_build(spark):
    """The ``hll_union_sources`` shape: per-source sketches unioned with
    ``hll_union_agg`` are the whole-corpus sketch, byte for byte (the
    corpus spans 7 partitions, so its build merges as well), so both
    count the vocabulary within the bound of its exact size; an item in
    several sources is counted once."""
    df = spark.range(60_000).selectExpr(
        "CAST(id % 3 AS STRING) AS grp", "CAST(id % 7919 AS STRING) AS k"
    ).repartition(7)
    per = df.groupBy("grp").agg(F.hll_sketch_agg("k", 14).alias("sk"))
    merged = _union(per.select("sk"))
    whole = df.agg(F.hll_sketch_agg("k", 14).alias("sk")).first()["sk"]
    assert bytes(merged) == bytes(whole)
    est = spark.createDataFrame([(merged,)], "sk binary").select(
        F.hll_sketch_estimate("sk")
    ).first()[0]
    assert est == _est(df, "k")
    assert abs(est - 7_919) <= hll_error(14) * 7_919, est


def test_hll_rejects_mismatched_p(spark):
    from pyspark.errors import PySparkException

    a = spark.range(5_000).agg(F.hll_sketch_agg("id", 12).alias("sk"))
    b = spark.range(5_000, 9_000).agg(F.hll_sketch_agg("id", 14).alias("sk"))
    both = a.unionByName(b)
    with pytest.raises(PySparkException, match="HLL_UNION_DIFFERENT_LG_K"):
        both.agg(F.hll_union_agg("sk")).collect()
    # opting in unions at the smaller lgConfigK, and its bound applies
    est = both.agg(F.hll_sketch_estimate(F.hll_union_agg("sk", True))).first()[0]
    assert abs(est - 9_000) <= hll_error(12) * 9_000
    with pytest.raises(PySparkException, match="HLL_INVALID_LG_K"):
        spark.range(10).agg(F.hll_sketch_agg("id", 30)).collect()


def test_hll_rejects_foreign_sketch_bytes(spark):
    """The DataSketches binary format carries its family: theta bytes
    are refused by ``hll_sketch_estimate``, never read as registers."""
    from pyspark.errors import PySparkException

    theta = spark.range(100).agg(F.theta_sketch_agg("id").alias("sk"))
    with pytest.raises(PySparkException, match="HLL_INVALID_INPUT_SKETCH_BUFFER"):
        theta.select(F.hll_sketch_estimate("sk")).collect()


def test_hll_spark_build_matches_exact(spark):
    """A composite key goes in through ``key_hash`` (xxhash64 of the
    canonical key; ``hll_sketch_agg`` takes no struct), and a tuple with
    a null column is skipped, matching COUNT(DISTINCT a, b)."""
    from spark_skew_join_spark.sources.tables import load_tables

    li = load_tables(spark, "/root/testdata/sf0.001")["lineitem"]
    cols = ["l_orderkey", "l_linenumber"]
    exact = li.agg(F.countDistinct(*cols)).first()[0]
    est = _est(li, key_hash(cols))
    assert abs(est - exact) <= hll_error(14) * exact, (est, exact)

    rows = [(i % 300, i % 7) for i in range(3_000)]
    rows += [(None, 1), (5, None), (None, None)] * 50
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    exact = df.agg(F.countDistinct("a", "b")).first()[0]
    assert exact == 2_100
    assert abs(_est(df, key_hash(["a", "b"])) - exact) <= hll_error(14) * exact


def test_hll_by_group_matches_per_group_builds(spark):
    """``groupBy(g).agg(hll_sketch_agg)`` gives each group the very bytes
    of a separate build over the group's rows (groups straddle all 11
    partitions, so both builds fold partial sketches with the same
    union), and each estimate is within the bound of its exact count.

    Byte identity needs every partial sketch to be past DataSketches'
    coupon mode, which holds at most 3/4 · 2^(lgK-3) = 1,536 distinct
    items at lgConfigK=14 and serializes them in insertion order; here
    each partition holds about 2,700 distinct items per group.  The
    sketch is its own aggregate: next to a COUNT(DISTINCT k), Spark
    groups by (g, k) first and folds one-item sketches instead, which
    gives the same registers but leaves the out-of-order flag unset, so
    the estimate would come from the HIP accumulator instead."""
    df = spark.range(90_000).selectExpr(
        "CAST(id % 3 AS STRING) AS grp", "CAST(id % 20011 AS STRING) AS k"
    ).repartition(11)
    got = {
        r["grp"]: (bytes(r["sk"]), r["e"])
        for r in df.groupBy("grp").agg(F.hll_sketch_agg("k", 14).alias("sk"))
        .select("grp", "sk", F.hll_sketch_estimate("sk").alias("e"))
        .collect()
    }
    exact = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp").agg(F.countDistinct("k").alias("n")).collect()
    }
    assert sorted(got) == ["0", "1", "2"]
    for g, (grouped, est) in got.items():
        solo = df.where(F.col("grp") == g).agg(
            F.hll_sketch_agg("k", 14).alias("sk")
        ).first()["sk"]
        assert bytes(solo) == grouped, g
        assert abs(est - exact[g]) <= hll_error(14) * exact[g], (g, est, exact)


def test_hll_by_group_null_group_not_dropped(spark):
    """Rows whose group is NULL form their own group, whose sketch is
    the bytes of a solo build over those rows; null items are skipped
    like COUNT(DISTINCT).  Two partitions, each holding 2,500 distinct
    NULL-group items (past coupon mode, see above), so both builds fold
    through the union."""
    df = spark.createDataFrame(
        [(None, str(i)) for i in range(5_000)]
        + [("n", str(i)) for i in range(100)]
        + [("n", None)] * 20,
        "grp string, k string",
    ).repartition(2)
    got = {
        r["grp"]: (bytes(r["sk"]), r["e"])
        for r in df.groupBy("grp").agg(F.hll_sketch_agg("k", 14).alias("sk"))
        .select("grp", "sk", F.hll_sketch_estimate("sk").alias("e"))
        .collect()
    }
    assert set(got) == {None, "n"}
    solo = df.where(F.col("grp").isNull()).agg(
        F.hll_sketch_agg("k", 14).alias("sk")
    ).first()["sk"]
    assert bytes(solo) == got[None][0]
    assert abs(got[None][1] - 5_000) <= hll_error(14) * 5_000
    assert abs(got["n"][1] - 100) <= hll_error(14) * 100
