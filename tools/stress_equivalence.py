"""At-scale equivalence smoke (not part of pytest — run on demand):
skew_join output must equal the plain join as row count + aggregate
fingerprint at 20M rows, for exact and cms estimators and outer joins.

Usage: python tools/stress_equivalence.py [n_rows]
Prints PASS/FAIL lines and exits nonzero on any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf, skew_join
from spark_skew_join_spark.sources.tables import get_spark


def fingerprint(df):
    """Order-independent aggregate fingerprint: count + sum of a 64-bit row
    hash (exact integer arithmetic, any row difference changes it)."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in df.columns]
    h = F.xxhash64(*cols).cast("decimal(38,0)")  # long sum overflows (ANSI)
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("hsum")
    ).collect()[0]
    return (row["n"], row["hsum"])


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    spark = get_spark("stress-eq", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_keys = max(n // 1000, 100)
    left = spark.range(n).select(
        (F.floor(F.pow(F.rand(1), F.lit(12.0)) * n_keys) + 1).alias("k"),
        F.col("id").alias("v"),
    )
    # right: 1 row/key for 60% of keys (exercises unmatched keys in outers)
    right = spark.range(1, int(n_keys * 0.6)).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("p")
    )
    failures = 0
    for est in ("exact", "cms"):
        for how in ("inner", "left", "full"):
            conf = SkewJoinConf(
                replication_factor=0.001,
                hot_threshold=1000,
                estimator=est,
                sample_fraction=0.02,
            )
            got = fingerprint(skew_join(left, right, "k", how, conf))
            exp = fingerprint(
                left.join(right, on=["k"], how=how).select("k", "v", "p")
            )
            ok = got == exp
            failures += not ok
            print(f"{'PASS' if ok else 'FAIL'} {est}/{how}: skew={got} plain={exp}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
