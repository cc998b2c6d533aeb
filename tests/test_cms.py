"""CMS unit/property tests (SURVEY §5.5): ε/δ accuracy vs exact counts,
monoid merge associativity, distributed builder parity, empty input."""

from __future__ import annotations

import random

import pytest

from spark_skew_join_spark.sketch.cms import CountMinSketch, cms_from_dataframe


def test_never_underestimates_and_eps_bound():
    rng = random.Random(42)
    keys = [str(rng.randint(1, 500)) for _ in range(20_000)]
    exact: dict[str, int] = {}
    for k in keys:
        exact[k] = exact.get(k, 0) + 1
    cms = CountMinSketch(eps=0.005, delta=1e-8, seed=1).add_all(keys)
    n = len(keys)
    for k, c in exact.items():
        est = cms.estimate(k)
        assert est >= c, f"CMS underestimated {k}: {est} < {c}"
        assert est <= c + cms.eps * n, f"CMS over eps bound for {k}: {est} vs {c}"


def test_merge_equals_single_build():
    rng = random.Random(7)
    keys = [str(rng.randint(1, 100)) for _ in range(5_000)]
    whole = CountMinSketch().add_all(keys)
    a = CountMinSketch().add_all(keys[:2_000])
    b = CountMinSketch().add_all(keys[2_000:])
    merged = a.merge(b)
    assert (merged.table == whole.table).all()
    assert merged.total == whole.total


def test_merge_rejects_mismatched_params():
    import pytest

    with pytest.raises(ValueError):
        CountMinSketch(eps=0.01).merge(CountMinSketch(eps=0.005))


def test_distributed_builder(spark):
    df = spark.createDataFrame(
        [(i % 50,) for i in range(10_000)], "k bigint"
    )
    cms = cms_from_dataframe(df, ["k"], eps=0.01, delta=1e-6, seed=1)
    assert cms.total == 10_000
    est = cms.estimate("7")
    assert 200 <= est <= 200 + 0.01 * 10_000


def test_empty_dataframe(spark):
    df = spark.createDataFrame([], "k bigint")
    cms = cms_from_dataframe(df, ["k"])  # Utils.scala:120 throws here; we don't
    assert cms.total == 0
    assert cms.estimate("anything") == 0


def test_composite_key_no_concat_collision(spark):
    # ("ab","c") vs ("a","bc"): NUL separator keeps them distinct (quirk Q1)
    df = spark.createDataFrame(
        [("ab", "c")] * 100 + [("a", "bc")] * 5, "k1 string, k2 string"
    )
    cms = cms_from_dataframe(df, ["k1", "k2"])
    assert cms.estimate("ab\x00c") >= 100
    assert cms.estimate("a\x00bc") < 100  # would be >=105 if collided


def test_python_xxh64_matches_spark(spark):
    from pyspark.sql import functions as F

    from spark_skew_join_spark.sketch.xxh64 import to_signed64, xxh64

    samples = ["", "a", "hello", "12345678", "x" * 31, "y" * 32, "z" * 100, "7"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        assert got[s] == to_signed64(xxh64(s.encode())), s


def test_add_hashed_matches_scalar_path():
    import numpy as np

    from spark_skew_join_spark.sketch.xxh64 import to_signed64, xxh64

    keys = [str(i % 37) for i in range(2000)]
    scalar = CountMinSketch(seed=5).add_all(keys)
    vec = CountMinSketch(seed=5)
    hashes = np.array([to_signed64(xxh64(k.encode())) for k in keys], dtype=np.int64)
    vec.add_hashed(hashes)
    assert (scalar.table == vec.table).all()
    assert scalar.total == vec.total


def test_estimate_hashed_matches_estimate(spark):
    """estimate_hashed(JVM xxhash64) ≡ estimate(key) — the streaming
    hot-key path never re-hashes in Python."""
    from pyspark.sql import functions as F

    keys = [f"k{i}" for i in range(200)]
    cms = CountMinSketch().add_all(keys * 3)
    hashes = {
        r["k"]: r["h"]
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k", F.xxhash64("k").alias("h")).collect()
    }
    for k in keys:
        assert cms.estimate_hashed(hashes[k]) == cms.estimate(k) >= 3


@pytest.mark.parametrize(
    "eps, delta, seed",
    [(0.005, 1e-8, 1), (0.01, 1e-3, 7), (0.3, 0.05, -3), (0.0005, 1e-6, 2**31 - 1)],
)
def test_layout_matches_spark_aggregate(spark, eps, delta, seed):
    """A Python-built table equals Spark's ``count_min_sketch`` aggregate
    over the same int64 items bit for bit, and ``estimate_hashed`` equals
    the JVM's ``CountMinSketch.estimateCount`` on the same bytes."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_skew_join_spark.sketch.cms import count_min_sketch_agg

    rng = np.random.default_rng(seed & 0xFFFF)
    edges = np.array([0, -1, 2**62, -(2**62), 2**63 - 1, -(2**63)], dtype=np.int64)
    items = np.concatenate([
        edges,
        rng.integers(-(2**63), 2**63 - 1, 2_000, dtype=np.int64),
        np.repeat(edges[:4], 50),
    ])
    df = spark.createDataFrame([(int(h),) for h in items], "h bigint")
    blob = bytes(df.agg(count_min_sketch_agg(F.col("h"), eps, delta, seed)).first()[0])

    local = CountMinSketch(eps, delta, seed)
    local.add_hashed(items)
    built = CountMinSketch.from_spark(blob)
    assert (built.depth, built.width) == (local.depth, local.width)
    assert np.array_equal(built.hash_a, local.hash_a)
    assert np.array_equal(built.table, local.table)
    assert built.total == local.total == len(items)

    jvm_cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytearray(blob)
    )
    probes = np.concatenate([edges, items[6:100], np.array([12345], dtype=np.int64)])
    est = local.estimate_hashed(probes)
    assert [jvm_cms.estimateCount(int(h)) for h in probes] == est.tolist()
    assert local.estimate_hashed(int(probes[0])) == est[0]


def test_default_sizing():
    """Width stays ⌈e/ε⌉; depth is Spark's ⌈log2(1/δ)⌉."""
    cms = CountMinSketch()
    assert (cms.depth, cms.width) == (27, 544)
