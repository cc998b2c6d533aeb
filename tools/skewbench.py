"""Skew-mitigation benchmark (BASELINE.md mandate): on a Zipf-skewed join,
record wall-clock + per-partition percentiles for
(1) plain shuffle join, (2) skew_join exact, (3) skew_join CMS,
(4) AQE skew-join — the standing baseline for the 2x perf gate.

Prints one JSON line. Synthetic data: left 2M rows, Zipf-ish keys over 5k
values (hottest key ~28% of rows), right one row per key — the
fragment-replicate sweet spot (small side not broadcastable in the test
setup: autoBroadcastJoinThreshold=-1 to force the shuffle path).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf, partition_stats, skew_join
from spark_skew_join_spark.sources.tables import get_spark


def timed(df) -> float:
    start = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - start, 3)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("skewbench", cpus=cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_left = int(os.environ.get("SKEWBENCH_N_LEFT", "2000000"))
    n_keys = int(os.environ.get("SKEWBENCH_N_KEYS", "5000"))

    left = spark.range(n_left).select(
        (F.floor(F.pow(F.rand(1), F.lit(12.0)) * n_keys) + 1).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(1, n_keys + 1).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    results: dict[str, dict] = {}

    # warm the JVM (codegen, shuffle paths) so run order doesn't skew timings
    left.join(right.hint("shuffle_hash"), "k").write.mode("overwrite").format(
        "noop"
    ).save()

    def record(name, df):
        t = timed(df)
        ps = partition_stats(df)
        results[name] = {
            "sec": t,
            "partitions": ps.num_partitions,
            "rows": ps.total_records,
            "p50": ps.p50,
            "max": ps.max,
            "skew_ratio": round(ps.skew_ratio, 2),
        }

    # 1) plain shuffle join, AQE off (the unmitigated baseline)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    record("plain_join", left.join(right.hint("shuffle_hash"), "k"))

    # 2) skew_join exact hot-key map (AQE still off → isolate our effect)
    conf = SkewJoinConf(replication_factor=0.001, hot_threshold=1000)
    record("skew_join_exact", skew_join(left, right, "k", "inner", conf))

    # 3) skew_join CMS estimator
    conf_cms = SkewJoinConf(
        replication_factor=0.001, hot_threshold=1000, estimator="cms",
        sample_fraction=0.02,
    )
    record("skew_join_cms", skew_join(left, right, "k", "inner", conf_cms))

    # 4) AQE skew join (the built-in alternative)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    record("aqe_skew_join", left.join(right.hint("shuffle_hash"), "k"))

    print(json.dumps({"metric": "skew_join_comparison", "n_left": n_left, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
