"""Spark Connect compatibility matrix (VERDICT r11 #6).

Spark Connect sessions have no ``SparkContext``, no ``df.rdd``, and no
py4j JVM bridge (``_jvm`` / ``_jdf`` / ``_jsc``). Most of this package
is pure DataFrame API and runs unchanged under Connect; the escapes
below are the COMPLETE inventory of classic-session surfaces, each with
its behavior under Connect. tests/test_connect_compat.py greps the
package source and fails if an undocumented escape appears — new code
cannot silently grow a Connect incompatibility. A live smoke test runs
when ``grpcio`` is importable (this sandbox ships Spark's connect jars
but not the Python client deps, so it skips here).

Degradation classes:
* ``graceful-fallback`` — the classic API sits behind a try/except with
  a documented Connect-safe fallback; behavior is correct either way.
* ``loud-error`` — the surface needs the classic API semantically
  (e.g. the reference's per-partition diagnostics, O5) and raises
  PySpark's clear unsupported-operation error under Connect; no silent
  wrong answers.
* ``classic-only-helper`` — a convenience that builds or tunes a
  classic session (callers on Connect bring their own session and
  never reach it).
"""

from __future__ import annotations

# module (repo-relative) -> (degradation class, what happens under Connect)
CONNECT_ESCAPES: dict[str, tuple[str, str]] = {
    "spark_skew_join_spark/operators/diagnostics.py": (
        "loud-error",
        "count_per_partition/partition_stats mirror the reference's "
        "RDD-based O5/O7 (Utils.scala:50-54); df.rdd raises PySpark's "
        "NotImplemented error under Connect — the groupBy(spark_partition"
        "_id()) variant they build on still works, only the "
        "getNumPartitions total needs .rdd",
    ),
    "spark_skew_join_spark/operators/cluster.py": (
        "loud-error",
        "the RDD pin for localCheckpoint lineage uses _jdf; iterative "
        "k-means callers on Connect must pass checkpoint=False",
    ),
    "spark_skew_join_spark/operators/dedup.py": (
        "graceful-fallback",
        "_release_df's unpersist of a localCheckpoint's wrapped RDD "
        "(_jdf) is try/except-wrapped: under Connect only the "
        "DataFrame.unpersist half runs",
    ),
    "spark_skew_join_spark/operators/pq.py": (
        "loud-error",
        "LUT chunks ship via sparkContext.broadcast; pq_topk raises "
        "under Connect (pq_refined_topk's join path is the alternative)",
    ),
    "spark_skew_join_spark/operators/skew_join.py": (
        "graceful-fallback",
        "uses only APIs Connect has: the broadcast gate reads the plain "
        "join's physical plan through the public DataFrame.explain() text "
        "(no _jdf), the pre-pass fetches with toArrow, "
        "the hot-key table is createDataFrame(Arrow table), the fit test "
        "reads spark.sql.autoBroadcastJoinThreshold through spark.conf and "
        "the row width from df.schema; the replication cap reads "
        "spark.sql.shuffle.partitions, with sparkContext."
        "defaultParallelism only as the last-resort branch",
    ),
    "spark_skew_join_spark/sketch/bloom.py": (
        "loud-error",
        "the built Bloom filter ships via sparkContext.broadcast; "
        "membership checks raise under Connect",
    ),
    "spark_skew_join_spark/sources/tables.py": (
        "graceful-fallback",
        "fan_out_narrow probes df.rdd.getNumPartitions inside "
        "try/except and falls back to a conf-derived width under "
        "Connect; get_spark/configure are classic-only session helpers",
    ),
    "spark_skew_join_spark/sources/io.py": (
        "graceful-fallback",
        "JDBC-driver probing and filesystem maintenance (compaction "
        "rollback) use _jvm behind try/except with loud "
        "NotImplementedError messages where no fallback exists",
    ),
    "spark_skew_join_spark/plans/explain.py": (
        "loud-error",
        "executed-plan string extraction is a py4j diagnostic; under "
        "Connect use df.explain()/SQL EXPLAIN output instead",
    ),
    "spark_skew_join_spark/queries.py": (
        "graceful-fallback",
        "the family memo keys on id(sparkContext) for classic sessions "
        "and falls back to id(session) under Connect (_session_key)",
    ),
}

# the source patterns that constitute a classic-session escape
ESCAPE_PATTERNS = (".rdd", "._jvm", "._jdf", "._jsc", ".sparkContext", "._sc.")
