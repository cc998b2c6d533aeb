"""Tests: implicit-style DataFrame API registration, format round-trips,
skew-aware aggregation."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf
from spark_skew_join_spark.dfapi import register_dataframe_api, unregister_dataframe_api
from spark_skew_join_spark.operators.skew_agg import (
    count_distinct_skewed,
    salted_aggregate,
)
from spark_skew_join_spark.sources.io import read_table, write_table


def test_dataframe_api_parity(spark, zipf_left, uniform_right):
    register_dataframe_api()
    try:
        out = zipf_left.skew_join(
            uniform_right, "k",
            conf=SkewJoinConf(replication_factor=0.1, hot_threshold=20),
        )
        assert out.count() == zipf_left.join(uniform_right, "k").count()
        stats = zipf_left.partition_stats()
        assert stats.total_records == zipf_left.count()
        cms = zipf_left.get_cms("k")
        assert cms.total == zipf_left.count()
        out.ensure_dataframe_equals(out)
    finally:
        unregister_dataframe_api()
    assert not hasattr(zipf_left, "skew_join")


def test_csv_json_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id bigint, s string, v double"
    )
    for fmt in ("csv", "json", "orc"):
        path = tempfile.mkdtemp(prefix=f"sj_io_{fmt}_")
        try:
            write_table(df, path, format=fmt)
            back = read_table(
                spark, path, format=fmt,
                schema="id bigint, s string, v double" if fmt != "orc" else None,
            )
            assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
        finally:
            shutil.rmtree(path, ignore_errors=True)


def test_csv_requires_schema(spark):
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, "/tmp/nope", format="csv")


def test_delta_raises_cleanly_when_jar_absent(spark):
    from spark_skew_join_spark.sources.io import lakehouse_available

    df = spark.range(3)
    if lakehouse_available(spark, "delta"):
        pytest.skip("delta jars present in this image — writer path enabled")
    with pytest.raises(NotImplementedError, match="delta"):
        write_table(df, "/tmp/nope", format="delta")


def test_delta_roundtrip_when_jar_present(spark, tmp_path):
    """Auto-enabled lakehouse write path (skipped in jar-less images)."""
    from spark_skew_join_spark.sources.io import lakehouse_available

    if not lakehouse_available(spark, "delta"):
        pytest.skip("delta connector jars not on classpath in this image")
    df = spark.range(5).withColumnRenamed("id", "k")
    path = str(tmp_path / "delta_tbl")
    write_table(df, path, format="delta")
    back = read_table(spark, path, format="delta")
    assert back.count() == 5


def test_count_distinct_skewed_equals_plain(spark, zipf_left):
    two_level = count_distinct_skewed(zipf_left, "k", "payload_l", "n")
    plain = zipf_left.groupBy("k").agg(F.countDistinct("payload_l").alias("n"))
    assert sorted(map(tuple, two_level.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_aggregate_exact(spark, zipf_left):
    partial = [F.sum(F.col("k")).alias("s"), F.count(F.lit(1)).alias("c")]
    merge = [F.sum("s").alias("sum_k"), F.sum("c").alias("n")]
    got = salted_aggregate(
        zipf_left.withColumn("g", F.col("k") % 3), "g", partial, merge
    )
    exp = (
        zipf_left.withColumn("g", F.col("k") % 3)
        .groupBy("g")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_register_views_sql(spark):
    from spark_skew_join_spark.sources.views import register_views

    names = register_views(spark, "/root/testdata/sf0.001")
    assert "lineitem" in names
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == 6000


def test_cross_join_rejected(spark):
    import pytest

    from spark_skew_join_spark import skew_join

    l = spark.createDataFrame([(1,)], "k bigint")
    with pytest.raises(ValueError, match="equi-join"):
        skew_join(l, l.withColumnRenamed("k", "k2"), [("k", "k2")], "cross")


def test_hash_split_deterministic_and_proportional(spark):
    from spark_skew_join_spark.operators.sampling import hash_split

    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    a = hash_split(df, "doc_id").groupBy("split").count().collect()
    b = hash_split(df.repartition(17), "doc_id").groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-independent
    counts = dict((r["split"], r["count"]) for r in a)
    frac = counts["train"] / 10_000
    assert 0.77 < frac < 0.83  # expected 204/256 = 0.797


def test_cluster_aware_split_never_straddles(spark):
    from spark_skew_join_spark.operators.sampling import (
        cluster_aware_split,
        hash_split,
    )

    docs = spark.range(2_000).select(F.col("id").alias("doc_id"))
    # clusters of 4 consecutive ids, rep = min member
    clusters = docs.select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 4).alias("cluster_rep")
    )
    out = cluster_aware_split(docs, clusters, id_col="doc_id")
    per = (
        out.join(clusters, "doc_id")
        .groupBy("cluster_rep")
        .agg(F.countDistinct("split").alias("n"))
    )
    assert per.where("n > 1").count() == 0
    # members follow their rep's own-id assignment
    reps = hash_split(
        clusters.select("cluster_rep").distinct(), "cluster_rep",
        label_col="rep_split",
    )
    joined = out.join(clusters, "doc_id").join(reps, "cluster_rep")
    assert joined.where("split != rep_split").count() == 0
    # rows absent from the cluster map fall back to their own id
    lone = cluster_aware_split(
        docs, clusters.where("doc_id < 0"), id_col="doc_id"
    )
    own = hash_split(docs, "doc_id")
    assert (
        lone.join(own.withColumnRenamed("split", "own"), "doc_id")
        .where("split != own").count() == 0
    )


def test_stratified_sample(spark):
    from spark_skew_join_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [("en", i) for i in range(1000)] + [("fr", i) for i in range(1000)],
        "lang string, i bigint",
    )
    s = stratified_sample(df, "lang", {"en": 0.1, "fr": 0.5}, seed=1)
    by = dict((r["lang"], r["count"]) for r in s.groupBy("lang").count().collect())
    assert 50 < by["en"] < 180 and 380 < by["fr"] < 620


@pytest.mark.slow
def test_dfapi_extension_methods(spark):
    from pyspark.sql import DataFrame

    from spark_skew_join_spark.dfapi import (
        register_dataframe_api,
        unregister_dataframe_api,
    )
    from spark_skew_join_spark.sketch.bounds import (
        hll_error,
        kll_rank_error,
        theta_error,
    )

    register_dataframe_api()
    try:
        t = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        s = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        merged = {r.k: r.v for r in t.merge_upsert(s, ["k"]).collect()}
        assert merged == {1: "a", 2: "B", 3: "c"}
        d = {r.k: r.change_type
             for r in t.snapshot_diff(s, ["k"], ["v"]).collect()}
        assert d == {1: "deleted", 2: "updated", 3: "inserted"}
        assert t.bottom_k_sample("k", 1).count() == 1
        # HLL, KLL and theta are Spark built-ins, not DataFrame methods:
        # each is one agg, read with the built-in scalar functions
        for gone in ("get_hll", "get_kll", "get_theta"):
            assert not hasattr(DataFrame, gone), gone
        est = spark.range(5000).agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("id", 14))
        ).first()[0]
        assert abs(est - 5000) <= hll_error(14) * 5000
        # round-5 additions: KLL sketch, substring dedup, semdedup
        med = spark.range(10000).agg(F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double(F.col("id").cast("double"), 200),
            F.lit(0.5),
        )).first()[0]
        # δ = 1e-6: DataSketches' 99% rank error 2.296/k^0.9723 times
        # √(ln(1/δ)/ln 100) = 1.73 (the KLL √ln(1/δ) growth, Karnin–
        # Lang–Liberty 2016)
        assert abs((med + 1) / 10000 - 0.5) <= kll_rank_error(200, delta=1e-6)
        docs = spark.createDataFrame(
            [(0, " ".join(f"t{i}" for i in range(40))),
             (1, " ".join(f"t{i}" for i in range(40)))],
            "doc_id long, text string",
        )
        runs = docs.exact_substring_runs(k=16, min_tokens=32)
        assert runs.count() == 1
        cleaned = {r.doc_id: r.n_removed
                   for r in docs.remove_duplicate_spans(runs=runs).collect()}
        # detected span covers the two matched grid chunks [0, 32);
        # the 8-token tail is inside the grid slack
        assert cleaned[0] == 0 and cleaned[1] == 32
        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        sd = {r.vec_id: r.is_kept
              for r in vecs.semdedup(threshold=0.99, n_clusters=2,
                                     dim=2).collect()}
        assert sd == {0: True, 1: False, 2: True}
        # round-6 additions: Bloom / theta sketches, BM25, linkage, layout
        ids = spark.range(3000)
        bloom = ids.get_bloom("id", m_bits=1 << 16)
        assert 0.0 < bloom.fill_ratio() < 1.0
        theta = ids.agg(
            F.theta_sketch_estimate(F.theta_sketch_agg("id", 8))
        ).first()[0]
        assert abs(theta - 3000) <= theta_error(8) * 3000
        bm = docs.bm25_topk(["t1", "t5"], k=1)
        assert bm.count() == 1 and bm.collect()[0]["matched"] == 2
        left = spark.createDataFrame([(1, "abcd", "b")],
                                     "id long, s string, blk string")
        right = spark.createDataFrame([(9, "abcx", "b")],
                                      "id long, s string, blk string")
        lk = left.link_records(
            right, left_id="id", right_id="id", block_left=["blk"],
            block_right=["blk"], compare=[("s", "s")], threshold=0.5,
        ).collect()
        assert lk[0]["score"] == pytest.approx(0.75)
        pts = spark.createDataFrame([(float(i), float(i)) for i in range(64)],
                                    "x double, y double")
        assert pts.zorder_key(["x", "y"], bits=4).where("zval IS NULL").count() == 0
        assert pts.hilbert_key(["x", "y"], bits=4).where("hval IS NULL").count() == 0
    finally:
        unregister_dataframe_api()


def test_compact_parquet_small_files(spark, tmp_path):
    """50 tiny files → a handful at the size target, rows and content
    preserved, source dir atomically swapped."""
    from pyspark.sql import functions as F

    from spark_skew_join_spark.sources.io import (
        compact_parquet,
        compaction_report,
        list_data_files,
    )

    path = str(tmp_path / "smallfiles")
    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") * 7 % 97).alias("v")
    )
    df.repartition(50).write.parquet(path)
    before = list_data_files(spark, path)
    assert len(before) == 50
    target = sum(b for _, b in before) // 4  # aim for ~4-5 output files
    plan = compaction_report(before, target)
    assert plan["n_small"] == 50

    fingerprint = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v")
    ).collect()[0]
    rep = compact_parquet(spark, path, target_bytes=target)
    assert rep["rewritten"] is True
    assert rep["n_files_after"] < 10
    after = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v")
    ).collect()[0]
    assert tuple(after) == tuple(fingerprint)


def test_compact_parquet_noop_when_already_large(spark, tmp_path):
    from spark_skew_join_spark.sources.io import compact_parquet

    path = str(tmp_path / "bigfile")
    spark.range(10_000).coalesce(1).write.parquet(path)
    rep = compact_parquet(spark, path, target_bytes=10)
    assert rep["rewritten"] is False and rep["n_files_after"] == rep["n_files"]


def test_compact_parquet_refuses_stale_backup(spark, tmp_path):
    """ADVICE r6 #3: a leftover _pre_compact dir means a prior
    compaction crashed mid-swap — compact_parquet must refuse to run
    (and overwrite the only backup) until the operator recovers it."""
    import os

    import pytest

    from spark_skew_join_spark.sources.io import compact_parquet

    path = str(tmp_path / "withbak")
    spark.range(10_000).repartition(8).write.parquet(path)
    os.makedirs(path + "_pre_compact")
    with pytest.raises(RuntimeError, match="_pre_compact"):
        compact_parquet(spark, path, target_bytes=1 << 30)


def test_dfapi_round8_methods_attach_and_run(spark):
    """The six round-8 dfapi methods exist and return working plans."""
    from spark_skew_join_spark.dfapi import register_dataframe_api

    register_dataframe_api()
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a a a a")], "doc_id bigint, text string"
    )
    assert docs.char_entropy().count() == 2
    assert docs.chunk_documents(chunk_tokens=4, overlap=1).count() >= 2
    vals = spark.createDataFrame(
        [("k", float(i)) for i in range(40)], "g string, v double"
    )
    assert vals.psi_drift(vals, "g", "v").collect()[0]["psi"] == 0.0
    pts = spark.createDataFrame(
        [("k", float(i), 2.0 * i) for i in range(10)],
        "g string, x double, y double",
    )
    assert pts.ols_trend("g", "x", "y").collect()[0]["slope"] == 2.0
    assert vals.range_split_points("v", 4).count() == 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src bigint, dst bigint"
    )
    lp = edges.label_propagation(rounds=2).collect()
    assert {r["label"] for r in lp} == {1}
