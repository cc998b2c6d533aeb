"""Equivalence tests: skew_join(L, R, on, how) ≡ L.join(R, on, how).

The reference's own implied oracle (Utils.scala:83-88 golden-equivalence),
upgraded to multiset comparison (SURVEY §4 Q5) and run across join types,
skew sides, estimators, and the FIXTURES.md §B edge cases.
"""

from __future__ import annotations

import datetime as dt
import os
from contextlib import contextmanager
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf, SkewType, skew_join
from spark_skew_join_spark.operators.diagnostics import partition_stats
from spark_skew_join_spark.operators.skew_join import Decision
from spark_skew_join_spark.testing import assert_df_equal, skew_join_decisions

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# conf that actually triggers salting on the 20k-row fixtures: a key is hot
# at freq >= 20 and fragments R = clamp(int(freq * 0.1), 1, P)
TEST_CONF = SkewJoinConf(replication_factor=0.1, hot_threshold=20)


def plain(left, right, on, how):
    out = left.join(right, on=on, how=how)
    if how in ("semi", "left_semi", "leftsemi", "anti", "left_anti", "leftanti"):
        return out
    order = list(left.columns) + [c for c in right.columns if c not in on]
    return out.select(*order)


SPLIT = ("split_broadcast", "split_salted")


def assert_split_matches_plain(left, right, on, how, conf, *, expected=None, strategies=SPLIT):
    """``skew_join`` equals the plain join as a multiset, and its decision
    record shows that the call took one of ``strategies``: by default the
    hot/cold split, so an equivalence test cannot quietly compare
    Catalyst's own join with itself. Returns the ``skew_join`` result."""
    with skew_join_decisions() as got:
        actual = skew_join(left, right, on, how, conf)
    assert len(got) == 1 and got[0].strategy in strategies, got
    if expected is None:
        expected = plain(left, right, [on] if isinstance(on, str) else on, how)
    assert_df_equal(actual, expected)
    return actual


@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_join_types_zipf(spark, zipf_left, uniform_right, how):
    assert_split_matches_plain(zipf_left, uniform_right, "k", how, TEST_CONF)


@pytest.mark.parametrize("how", ["left_semi", "left_anti"])
def test_semi_anti(spark, zipf_left, uniform_right, how):
    expected = zipf_left.join(uniform_right, on=["k"], how=how)
    assert_split_matches_plain(zipf_left, uniform_right, "k", how, TEST_CONF, expected=expected)


@pytest.mark.slow
def test_cross_skew_both_sides(spark, zipf_left, zipf_right):
    # bound the blowup: restrict right to keys > 3 (hot keys 1..3 excluded
    # on one side keeps output manageable while still exercising CrossSkew)
    r = zipf_right.where(F.col("k") > 2)
    assert_split_matches_plain(zipf_left, r, "k", "inner", TEST_CONF)


@pytest.mark.parametrize("skew_type", [SkewType.LEFT, SkewType.RIGHT, SkewType.CROSS])
def test_skew_type_gating(spark, zipf_left, uniform_right, skew_type):
    conf = SkewJoinConf(
        replication_factor=0.1, hot_threshold=20, skew_type=skew_type
    )
    # only the left side is skewed, so gating it off leaves no hot key
    want = ("no_hot_keys",) if skew_type == SkewType.RIGHT else SPLIT
    assert_split_matches_plain(zipf_left, uniform_right, "k", "inner", conf, strategies=want)


def test_pair_on_different_names(spark, zipf_left, uniform_right):
    # the key is not the left's first column: the output keeps the left's
    # column order, then the right's non-key columns (not Spark's USING
    # order, which puts the keys first)
    left = zipf_left.select("payload_l", "k")
    r = uniform_right.withColumnRenamed("k", "rk")
    expected = plain(left, uniform_right, ["k"], "inner")
    out = assert_split_matches_plain(left, r, [("k", "rk")], "inner", TEST_CONF, expected=expected)
    assert out.columns == ["payload_l", "k", "payload_r"]


def _sides(spark, hot: bool, n_right: int):
    """2,000 left rows spread over keys 0..49 (40 rows each); with ``hot``
    every odd row moves to key 0. The right side has keys 0..n_right-1.
    Both are ``spark.range`` projections, so Catalyst knows their sizes and
    broadcasts their plain join unless a hint says otherwise."""
    k = F.col("id") % 50
    if hot:
        k = F.when(F.col("id") % 2 == 1, F.lit(0)).otherwise(k)
    left = spark.range(2_000).select(k.cast("int").alias("k"), F.col("id").cast("int").alias("v"))
    right = spark.range(n_right).select(
        F.col("id").cast("int").alias("k"), F.concat(F.lit("r"), F.col("id")).alias("name")
    )
    return left, right


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_decision_and_equivalence(spark):
    """A 40-row right side is under Catalyst's broadcast threshold, so the
    gate returns the plain broadcast hash join without a pre-pass, and the
    output equals the plain join."""
    left, right = _sides(spark, hot=False, n_right=40)
    with skew_join_decisions() as got:
        out = skew_join(left, right, "k", "inner", SkewJoinConf(hot_threshold=500))
    assert got == [Decision("broadcast", "exact")]
    assert "BroadcastHashJoin" in _executed_plan(out)
    assert_df_equal(out, plain(left, right, ["k"], "inner"))


def test_shuffle_decision(spark):
    """A merge-hinted plain join is a sort-merge join, so the pre-pass runs.
    No key reaches the 500-row threshold (40 rows each), so the record says
    ``no_hot_keys`` and the plain sort-merge join is returned."""
    left, right = _sides(spark, hot=False, n_right=500)
    conf = SkewJoinConf(hot_threshold=500)
    with skew_join_decisions() as got:
        out = assert_split_matches_plain(
            left.hint("merge"), right, "k", "inner", conf, strategies=("no_hot_keys",)
        )
    [d] = got
    assert (d.hot_keys, d.max_r_left, d.max_r_right) == (0, 0, 0)
    assert "SortMergeJoin" in _executed_plan(out)


def test_one_hot_key_of_a_merge_hinted_join_takes_the_split(spark):
    """A merge-hinted plain join is a sort-merge join, so the gate lets the
    pre-pass run. Key 0 holds the 1,000 odd rows plus the 40 even
    multiples of 50: 1,040 rows, the one key at the 500-row threshold,
    split into int(1,040 × 0.01) = 10 left fragments."""
    left, right = _sides(spark, hot=True, n_right=500)
    conf = SkewJoinConf(hot_threshold=500, replication_factor=0.01, num_partitions=16)
    with skew_join_decisions() as got:
        assert_split_matches_plain(left.hint("merge"), right, "k", "inner", conf)
    [d] = got
    assert (d.hot_keys, d.max_r_left, d.max_r_right) == (1, 10, 1)


def test_pair_keys_and_column_order(spark):
    """A pair key joins different names; the output keeps the left's key
    name and column order, then the right's non-key columns. The
    broadcast-hinted path and the merge-hinted pre-pass path agree on rows
    and order."""
    left = spark.createDataFrame([(1, 10), (2, 20)], "lk int, v int")
    right = spark.createDataFrame([(1, "a"), (3, "c")], "rk int, s string")
    conf = SkewJoinConf(hot_threshold=100)
    with skew_join_decisions() as got:
        outs = [skew_join(lhs, rhs, [("lk", "rk")], "inner", conf)
                for lhs, rhs in ((left, right.hint("broadcast")), (left.hint("merge"), right))]
    assert [d.strategy for d in got] == ["broadcast", "no_hot_keys"]
    for out in outs:
        assert out.columns == ["lk", "v", "s"]
        assert [tuple(r) for r in out.collect()] == [(1, 10, "a")]


def test_adaptive_join_strategies_matches_oracle(spark, selfcheck):
    """The registry line ``adaptive_join_strategies`` reports the gate's
    three outcomes (``broadcast``, ``no_hot_keys``, ``split_broadcast``)
    with each case's hot-key count and join row count. Its DuckDB oracle
    names each case's strategy as a literal and replays the exact
    pre-pass and the join counts, so the rows must match exactly. The
    line is eager: its pre-passes run when it is constructed."""
    from spark_skew_join_spark import queries as q

    name = "adaptive_join_strategies"
    assert name in q.EAGER_QUERIES
    sdf = q.QUERIES[name](spark, SF_DIR)
    con = selfcheck.duck_con(SF_DIR)
    try:
        result = selfcheck.compare(sdf, con, q.ORACLES[name])
    finally:
        con.close()
    assert result.startswith("EXACT"), result


def test_multi_column_key_and_concat_collision(spark):
    # includes the ("ab","c") vs ("a","bc") collision pair — the reference's
    # concat key would wrongly join these (quirk Q1); we must not.
    left = spark.createDataFrame(
        [("ab", "c", 1.0), ("a", "bc", 2.0), ("x", "y", 3.0)] * 50,
        "k1 string, k2 string, v double",
    )
    right = spark.createDataFrame(
        [("ab", "c", "m1"), ("x", "y", "m2"), ("a", "bc", "m3")],
        "k1 string, k2 string, tag string",
    )
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=10)
    actual = assert_split_matches_plain(left, right, ["k1", "k2"], "inner", conf)
    # collision pair must NOT cross-match
    bad = actual.where((F.col("k1") == "ab") & (F.col("tag") == "m3")).count()
    assert bad == 0


def test_null_keys(spark):
    left = spark.createDataFrame(
        [(None, 1.0)] * 20 + [("a", 2.0)] * 50 + [("b", 3.0)] * 5,
        "k string, v double",
    )
    right = spark.createDataFrame(
        [(None, "rn"), ("a", "ra"), ("b", "rb")], "k string, tag string"
    )
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=10)
    for how in ("inner", "left", "full"):
        assert_split_matches_plain(left, right, "k", how, conf)


def test_outer_disjoint_ranges(spark):
    # unmatched keys must appear exactly once (quirk Q4: CMS over-estimation
    # duplicated them in the reference; exact map must not)
    left = spark.createDataFrame(
        [(k % 1000, f"l{k}") for k in range(5000)], "k bigint, pl string"
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(500, 1500)], "k bigint, pr string"
    )
    conf = SkewJoinConf(replication_factor=0.5, hot_threshold=3)
    for how in ("left", "right", "full"):
        assert_split_matches_plain(left, right, "k", how, conf)


def test_empty_side(spark, uniform_right):
    empty = uniform_right.where(F.lit(False)).select(
        F.col("k"), F.col("payload_r").alias("payload_l")
    )
    actual = skew_join(empty, uniform_right, "k", "inner", TEST_CONF)
    assert actual.count() == 0
    # right outer keeps all right rows exactly once
    actual_f = skew_join(empty, uniform_right, "k", "full", TEST_CONF)
    assert actual_f.count() == uniform_right.count()


def test_duplicate_rows_multiplicity(spark):
    left = spark.createDataFrame([(1, "same")] * 40, "k bigint, v string")
    right = spark.createDataFrame([(1, "r"), (1, "r")], "k bigint, t string")
    conf = SkewJoinConf(replication_factor=0.2, hot_threshold=5)
    actual = assert_split_matches_plain(left, right, "k", "inner", conf)
    assert actual.count() == 80  # 40 × 2 — exactly-once pair matching


def test_estimator_cms(spark, zipf_left, uniform_right):
    conf = SkewJoinConf(
        replication_factor=0.1,
        hot_threshold=20,
        estimator="cms",
        sample_fraction=0.5,
    )
    assert_split_matches_plain(zipf_left, uniform_right, "k", "inner", conf)


@pytest.mark.parametrize("estimator", ["cms", "sample"])
@pytest.mark.parametrize("how", ["left", "right", "full"])
def test_estimator_outer_join_exact(spark, estimator, how):
    """Outer joins with sketch estimators stay exact and silent: a hot key
    that exists on one side only must keep all its unmatched rows, however
    the estimator over-counts it on the other side (ADVICE round 1). Any
    warning fails the test."""
    import warnings

    # hot key 7 exists ONLY on one side (left, then right in the mirrored
    # case) → its rows are unmatched and must all survive the outer joins
    # that preserve that side
    only = spark.createDataFrame(
        [(7, f"a{i}") for i in range(200)] + [(k, f"a{k}") for k in range(100)],
        "k bigint, pa string",
    )
    other = spark.createDataFrame(
        [(k, f"b{k}") for k in range(100) if k != 7 for _ in range(3)],
        "k bigint, pb string",
    )
    conf = SkewJoinConf(
        replication_factor=0.5, hot_threshold=10,
        estimator=estimator, sample_fraction=0.9,
    )
    for left, right in ((only, other), (other, only)):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            assert_split_matches_plain(left, right, "k", how, conf)


def test_estimator_sample(spark, zipf_left, uniform_right):
    conf = SkewJoinConf(
        replication_factor=0.1,
        hot_threshold=20,
        estimator="sample",
        sample_fraction=0.5,
    )
    assert_split_matches_plain(zipf_left, uniform_right, "k", "inner", conf)


@pytest.mark.parametrize(
    "dtype, freqs",
    [
        ("boolean", {True: 3_000, False: 1_500}),
        # Python's str() and Spark's CAST(x AS STRING) differ on these
        ("double", {1e20: 3_000, 1.5e-7: 1_500, 0.25: 700}),
    ],
)
def test_cms_hot_keys_match_exact_on_non_string_keys(spark, dtype, freqs):
    """The CMS estimator finds the same hot keys with the same fragment
    counts as the exact one on boolean and double keys, whose Spark
    string form differs from Python's, and the join stays exact."""
    from dataclasses import replace

    from spark_skew_join_spark.operators.skew_join import _hot_key_rows

    left = spark.createDataFrame(
        [(k, i) for k, n in freqs.items() for i in range(n)],
        f"k {dtype}, v bigint",
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in freqs] * 2, f"k {dtype}, tag string"
    )
    exact = SkewJoinConf(
        replication_factor=0.002, hot_threshold=100, num_partitions=8
    )
    cap = exact.num_partitions

    def fragments(conf):
        hot, cl, cr = _hot_key_rows(left, right, ["k"], conf)
        return {
            k: (conf.replication(l, cap), conf.replication(r, cap))
            for k, l, r in zip(hot.column(0).to_pylist(), cl, cr)
        }

    cms = replace(exact, estimator="cms")
    want = fragments(exact)
    assert set(want) == set(freqs)
    assert fragments(cms) == want
    assert_split_matches_plain(left, right, "k", "inner", cms)


@contextmanager
def _spark_conf(spark, settings: dict):
    """Set Spark confs for the block, then restore the old values."""
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_salting_actually_fragments(spark, zipf_left, uniform_right):
    """The value proposition as a balance property: with AQE (and so its
    skew handling) off, the hottest key's output rows do not all sit in one
    partition — on the broadcast hot path ("10MB") and on the salted path
    ("-1"). A plain shuffle join on the same fixture puts them all in one."""
    top = zipf_left.groupBy("k").count().orderBy(F.desc("count")).first()["k"]
    for broadcast_limit in ("10MB", "-1"):
        with _spark_conf(spark, {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": broadcast_limit,
        }):
            shuffled = zipf_left.join(uniform_right.hint("merge"), "k")
            with skew_join_decisions() as got:
                split = skew_join(zipf_left, uniform_right, "k", "inner", TEST_CONF)
            s_plain = partition_stats(shuffled.where(F.col("k") == top))
            s_skew = partition_stats(split.where(F.col("k") == top))
        want = "split_salted" if broadcast_limit == "-1" else "split_broadcast"
        assert [d.strategy for d in got] == [want]
        assert s_plain.total_records == s_skew.total_records > 0
        assert s_plain.max == s_plain.total_records, "plain shuffle join should not spread the key"
        assert s_skew.max < s_skew.total_records, f"hot key in one partition at {broadcast_limit}"


@pytest.mark.parametrize("broadcast_limit", ["1024", "10MB"], ids=["salted", "broadcast"])
@pytest.mark.parametrize(
    "how", ["inner", "left", "right", "full", "left_semi", "left_anti"]
)
def test_key_hot_on_both_sides(spark, how, broadcast_limit):
    """Key 1 is hot on both sides; keys 98 and 99 are hot on one side only,
    so their rows are unmatched. With a 1 KB broadcast threshold neither
    hot fragment fits and the matched hot pairs are salted; at 10 MB the
    smaller hot fragment is broadcast (the right one, then the left one
    with the sides swapped). Every case must equal the plain join, null
    keys included."""
    a = spark.createDataFrame(
        [(1, f"a{i}") for i in range(120)]
        + [(98, f"a{i}") for i in range(40)]
        + [(k, f"a{k}") for k in range(2, 40)]
        + [(None, "an")] * 3,
        "k bigint, pa string",
    )
    b = spark.createDataFrame(
        [(1, f"b{i}") for i in range(50)]
        + [(99, f"b{i}") for i in range(30)]
        + [(k, f"b{k}") for k in range(30, 60)]
        + [(None, "bn")] * 2,
        "k bigint, pb string",
    )
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=20)
    with _spark_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": broadcast_limit}):
        for left, right in ((a, b), (b, a)):
            actual = assert_split_matches_plain(left, right, "k", how, conf)
            if how == "inner" and broadcast_limit == "1024":
                plan = actual._jdf.queryExecution().executedPlan().toString()
                assert "Generate explode" in plan, "hot key did not take the salted path"


def test_replication_vectorized_matches_scalar_formula():
    """``SkewJoinConf.replication`` over an array equals the reference's
    per-key formula ``clamp(int(freq * rf), 1, P)`` evaluated in Python."""
    import numpy as np

    freqs = [0, 1, 9, 10, 19, 20, 99, 1_234, 10**9, 2**53]
    for rf, cap in ((0.1, 8), (1e-3, 200), (0.37, 1), (2.5, 0)):
        conf = SkewJoinConf(replication_factor=rf)
        want = [max(1, min(int(f * rf), cap)) for f in freqs]
        got = conf.replication(np.array(freqs, dtype=np.int64), cap)
        assert got.dtype == np.int64 and got.tolist() == want
        assert [conf.replication(f, cap) for f in freqs] == want


@pytest.mark.parametrize("broadcast_limit", ["10MB", "-1"], ids=["broadcast", "salted"])
@pytest.mark.parametrize("estimator", ["exact", "cms"])
def test_hot_key_table_is_a_local_relation(spark, estimator, broadcast_limit):
    """The hot-key table is built from the pre-pass's Arrow result, so the
    executed plan scans it as a LocalTableScan: no RDD built from Python
    rows and no Python evaluation anywhere in the join. The inputs come
    from ``spark.range`` so that any RDD scan would be the hot table's.
    ``spark.range`` inputs are small enough for Catalyst to broadcast, so
    the right side carries a merge hint: the plain join is then a
    sort-merge join and the call takes the split, as its record shows."""
    left = spark.range(4_000).select(
        F.when(F.col("id") % 2 == 0, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(1, 4_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    ).hint("merge")
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=20, estimator=estimator)
    with _spark_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": broadcast_limit}):
        with skew_join_decisions() as got:
            actual = skew_join(left, right, "k", "inner", conf)
        rows = actual.collect()
        plan = actual._jdf.queryExecution().executedPlan().toString()
    want = "split_salted" if broadcast_limit == "-1" else "split_broadcast"
    assert [d.strategy for d in got] == [want]
    assert len(rows) == left.join(right, "k").count()
    assert "LocalTableScan" in plan, plan
    for node in ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} in the skew_join plan:\n{plan}"
    assert ("Generate explode" in plan) == (broadcast_limit == "-1")


def _broadcastable_inputs(spark):
    """``spark.range`` inputs small enough for Catalyst to broadcast their
    plain join, with key 1 on half the left rows (hot at ``TEST_CONF``)."""
    left = spark.range(4_000).select(
        F.when(F.col("id") % 2 == 0, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(1, 4_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    return left, right


@contextmanager
def _job_group(spark, group: str):
    """Run the block in a Spark job group; yields a function that lists
    the ids of the jobs the group has run so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("how", ["inner", "left_anti", "left"])
def test_broadcast_plan_is_returned_without_a_job(spark, how):
    """When Catalyst already plans the plain join as a broadcast hash join
    there is no shuffle partition to de-skew: ``skew_join`` returns that
    join. The call runs no Spark job (no pre-pass), its record says
    ``broadcast``, and the output equals the plain join."""
    left, right = _broadcastable_inputs(spark)
    with _job_group(spark, f"skew_join-gate-{how}") as jobs:
        with skew_join_decisions() as got:
            actual = skew_join(left, right, "k", how, TEST_CONF)
        assert jobs() == []
    assert got == [Decision("broadcast", "exact")]
    assert_df_equal(actual, plain(left, right, ["k"], how))


def test_gate_reads_the_top_join_when_an_input_is_a_join(spark):
    """The gate reads the first join operator of the explain() tree, which
    is printed in pre-order: a broadcast join inside an input does not make
    a sort-merge top join look broadcast, and a broadcast top join is seen
    above a sort-merge input."""
    from spark_skew_join_spark.operators.skew_join import _plans_broadcast

    left, right = _broadcastable_inputs(spark)
    dim = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("d"))
    bhj_input = left.join(dim, "k")
    smj_input = left.join(dim.hint("merge"), "k")
    assert _plans_broadcast(bhj_input) and not _plans_broadcast(smj_input)
    assert not _plans_broadcast(bhj_input.join(right.hint("merge"), "k"))
    assert _plans_broadcast(smj_input.join(right, "k"))


@pytest.mark.parametrize(
    "how, strategy",
    [("inner", "split_salted"), ("left_anti", "split_broadcast"), ("left", "split_salted")],
)
def test_broadcast_off_takes_the_split(spark, how, strategy):
    """The same inputs under ``autoBroadcastJoinThreshold=-1`` take the
    hot/cold split: the pre-pass runs (so the job count above does see
    jobs), and the record names the one hot key and its fragment counts.
    Inner and left joins salt the hot pairs, since no hot fragment fits; a
    left anti join checks hot rows against the right side's broadcast hot
    key set, which needs no salting. The output equals the plain join."""
    left, right = _broadcastable_inputs(spark)
    with _spark_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        with _job_group(spark, f"skew_join-split-{how}") as jobs:
            with skew_join_decisions() as got:
                actual = skew_join(left, right, "k", how, TEST_CONF)
            assert jobs() != []
        [d] = got
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert (d.strategy, d.estimator, d.hot_keys) == (strategy, "exact", 1)
        assert (d.max_r_left, d.max_r_right) == (min(200, cap), 1)
        assert d.prepass_s > 0
        assert_df_equal(actual, plain(left, right, ["k"], how))


_DST_GAP = dt.datetime(2021, 3, 14, 2, 30)  # no such wall time in Los Angeles

# key columns' DDL, then one tuple per key value: hot on the left, hot on
# the right, then a cold one (booleans have no third value)
_KEY_TYPES = {
    "bigint": ("k bigint", [(1,), (-(2**62),), (0,)]),
    "int": ("k int", [(7,), (-1,), (2**31 - 1,)]),
    "string": ("k string", [("hot",), ("",), ("ü ß",)]),
    "boolean": ("k boolean", [(True,), (False,)]),
    "double": ("k double", [(1e20,), (1.5e-7,), (-0.25,)]),
    "decimal": ("k decimal(12,3)", [
        (Decimal("123456789.123"),), (Decimal("-0.001"),), (Decimal("1.500"),)]),
    "date": ("k date", [
        (dt.date(2021, 3, 14),), (dt.date(1970, 1, 1),), (dt.date(1900, 1, 1),)]),
    "timestamp": ("k timestamp", [
        (dt.datetime(2021, 3, 14, 10, 30),), (dt.datetime(2021, 11, 7, 8, 30),),
        (dt.datetime(1969, 12, 31, 23, 59, 59, 999999),)]),
    "timestamp_ntz": ("k timestamp_ntz", [
        (dt.datetime(2021, 11, 7, 1, 30),), (dt.datetime(2000, 1, 1),),
        (dt.datetime(1969, 12, 31, 23, 59, 59, 999999),)]),
    "timestamp_ntz_dst_gap": ("k timestamp_ntz", [
        (_DST_GAP,), (_DST_GAP + dt.timedelta(minutes=15),),
        (dt.datetime(2021, 3, 14, 3, 0),)]),
    "binary": ("k binary", [(b"\x00\x01",), (b"hot",), (b"",)]),
    "array": ("k array<int>", [([1, 2],), ([3],), ([],)]),
    "struct": ("k struct<a:string,b:int>", [(("x", 1),), (("y", 2),), (("x", 2),)]),
    "composite": ("k1 string, k2 int", [("a", 1), ("a", 2), ("b", 1)]),
}


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
@pytest.mark.parametrize("key_type", list(_KEY_TYPES))
def test_hot_keys_round_trip_every_key_type(spark, key_type, tz):
    """Every hot key survives the Arrow round trip into the hot-key table
    under a UTC and a non-UTC session time zone: semi-joined back onto the
    inputs, the table selects exactly the hot keys' rows (so no hot key
    silently turns cold), and ``skew_join`` equals the plain join. The
    first key is hot on the left, the second on the right."""
    from spark_skew_join_spark.operators.skew_join import _hot_key_table

    ddl, values = _KEY_TYPES[key_type]
    keys = [c.split()[0] for c in ddl.split(", ")]
    hot_l, hot_r, *cold = values
    nulls = (None,) * len(keys)
    left_rows = [hot_l + (f"l{i}",) for i in range(40)] + [hot_r + ("l",)]
    right_rows = [hot_l + ("r",)] + [hot_r + (f"r{i}",) for i in range(25)]
    for v in cold:
        left_rows.append(v + ("lc",))
        right_rows.append(v + ("rc",))
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=20)
    with _spark_conf(spark, {"spark.sql.session.timeZone": tz}):
        left = spark.createDataFrame(left_rows + [nulls + ("ln",)] * 2, f"{ddl}, pl string")
        right = spark.createDataFrame(right_rows + [nulls + ("rn",)], f"{ddl}, pr string")
        hot = _hot_key_table(left, right, keys, conf)
        assert (hot.df.count(), hot.n, hot.rows_l, hot.rows_r) == (2, 2, 41, 26)
        assert left.join(hot.df, on=keys, how="left_semi").count() == 41
        assert right.join(hot.df, on=keys, how="left_semi").count() == 26
        assert_split_matches_plain(left, right, keys, "inner", conf)


def test_default_size_matches_spark(spark):
    """The fit test's row width, computed from the Python schema, equals
    the JVM's ``StructType.defaultSize`` for every key type above and for
    the types Spark sizes specially."""
    from pyspark.sql import types as T

    from spark_skew_join_spark.operators.skew_join import _default_size

    for ddl, _values in _KEY_TYPES.values():
        df = spark.createDataFrame([], f"{ddl}, pl string")
        assert _default_size(df.schema) == df._jdf.schema().defaultSize(), ddl
    others = [
        T.ByteType(), T.ShortType(), T.FloatType(), T.NullType(),
        T.DecimalType(18, 0), T.DecimalType(19, 2), T.DecimalType(38, 10),
        T.CharType(5), T.VarcharType(7), T.TimeType(6), T.VariantType(),
        T.CalendarIntervalType(), T.DayTimeIntervalType(), T.YearMonthIntervalType(),
        T.MapType(T.StringType(), T.LongType()), T.ArrayType(T.DoubleType()),
    ]
    from_json = spark._jvm.org.apache.spark.sql.types.DataType.fromJson
    for t in others:
        assert _default_size(t) == from_json(t.json()).defaultSize(), t.simpleString()


@pytest.mark.parametrize("value", ["-1", "0", "1024", "10MB", "10485760b", "2k", "3g", "-1mb"])
def test_broadcast_threshold_parsed_like_spark(spark, value):
    """The broadcast threshold read through ``spark.conf`` (Connect-safe)
    parses to the byte count Spark's own config reader gives."""
    from spark_skew_join_spark.operators.skew_join import _byte_string

    key = "spark.sql.autoBroadcastJoinThreshold"
    with _spark_conf(spark, {key: value}):
        jvm = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        assert _byte_string(spark.conf.get(key)) == jvm


def test_ambiguous_non_key_columns_rejected(spark):
    left = spark.createDataFrame([(1, "x")], "k bigint, v string")
    right = spark.createDataFrame([(1, "y")], "k bigint, v string")
    with pytest.raises(ValueError, match="non-key column"):
        skew_join(left, right, "k", "inner", TEST_CONF)


def test_compat_concat_mode_reproduces_reference_collision(spark):
    """Faithful mode: ("ab","c") and ("a","bc") concatenate to "abc" and DO
    join — the reference's quirk Q1, reproduced on demand."""
    left = spark.createDataFrame(
        [("ab", "c", 1.0), ("x", "y", 2.0)], "k1 string, k2 string, v double"
    )
    right = spark.createDataFrame(
        [("a", "bc", "m3"), ("x", "y", "m2")], "k1 string, k2 string, tag string"
    )
    conf = SkewJoinConf(compat_concat_key=True)
    out = skew_join(left, right, ["k1", "k2"], "inner", conf)
    rows = {(r["k1"], r["k2"], r["tag"]) for r in out.collect()}
    # collision pair joins in compat mode (default mode: test above proves it doesn't)
    assert ("ab", "c", "m3") in rows and ("x", "y", "m2") in rows
    # default mode on identical inputs: no cross-match
    strict = skew_join(left, right, ["k1", "k2"], "inner", SkewJoinConf())
    assert strict.count() == 1


def test_compat_mode_semi_anti(spark):
    left = spark.createDataFrame(
        [("ab", "c", 1.0), ("q", "z", 2.0)], "k1 string, k2 string, v double"
    )
    right = spark.createDataFrame(
        [("a", "bc", "m")], "k1 string, k2 string, tag string"
    )
    conf = SkewJoinConf(compat_concat_key=True)
    semi = skew_join(left, right, ["k1", "k2"], "left_semi", conf)
    assert {(r["k1"], r["k2"]) for r in semi.collect()} == {("ab", "c")}
    anti = skew_join(left, right, ["k1", "k2"], "left_anti", conf)
    assert {(r["k1"], r["k2"]) for r in anti.collect()} == {("q", "z")}
