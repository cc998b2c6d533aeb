"""Bottom-k sketch: deterministic mergeable uniform sample + quantiles.

Completes the sketch family (cms.py frequencies, Spark's DataSketches
HLL for distinct counts, heavy.py heavy hitters) with a deterministic
answer to the quantile question: keep the k
rows whose ``xxhash64(id)`` is smallest.  Because the hash is a fixed
function of the row identity, the sample is a uniform draw that is
ALSO deterministic — independent of partitioning, engine, and run —
which makes the whole estimator oracle-checkable (a DuckDB ``ORDER BY
md5-equivalent LIMIT k`` reproduces the exact sample).  Classic
bottom-k sketch theory: the k smallest hashes are a mergeable summary
(union two sketches, keep the k smallest again).

Scale design: Spark executes ``orderBy(hash).limit(k)`` as TakeOrdered
— each partition keeps its local k smallest and the driver merges
per-partition heaps; no global sort, no shuffle of non-sample rows.
Quantile estimates then run over k rows.  Standard error of a
quantile q from a uniform k-sample is √(q(1−q)/k) in rank space
(k=1000 → ±1.6 rank points at the median, 95% conf).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def bottom_k_sample(df: DataFrame, id_col: str, k: int) -> DataFrame:
    """The k rows with the smallest ``md5(id_col)`` — a deterministic
    uniform sample (ties broken by id). md5-of-string rather than
    xxhash64 so the SQL oracle computes the identical ordering (the
    quota_sample parity idiom); swap in xxhash64 for a pure-Spark
    deployment where the 8-byte hash is cheaper."""
    return (
        df.withColumn(
            "__h", F.md5(F.col(id_col).cast("string").cast("binary"))
        )
        .orderBy("__h", id_col)
        .limit(k)
        .drop("__h")
    )


def bottomk_quantiles(df: DataFrame, id_col: str, value_col: str, k: int,
                      qs: Sequence[float]) -> DataFrame:
    """One row: sample size + ``percentile(value, q)`` (linear
    interpolation) per requested quantile, estimated from the bottom-k
    sample. Columns ``q_<percent>``."""
    s = bottom_k_sample(df, id_col, k)
    aggs = [F.count(F.lit(1)).alias("sample_n")]
    for q in qs:
        aggs.append(
            F.percentile(F.col(value_col), F.lit(q)).alias(
                f"q_{int(round(q * 100))}"
            )
        )
    return s.agg(*aggs)
