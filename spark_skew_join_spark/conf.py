"""Configuration surface for the skew-aware join.

Re-expresses the reference's tuning knobs
(``/root/reference/src/main/scala/org/anish/spark/skew/SkewJoinConf.scala:6-8``
and ``SkewType.scala:6-28``) as a frozen dataclass + enum, with the same
names and defaults, plus rebuild-only knobs (frequency estimator choice,
hot-key map cap) that the Spark-first design needs at 100 TB scale.
"""

from __future__ import annotations

import enum
import math
from dataclasses import dataclass

import numpy as np


class SkewType(enum.Enum):
    """Which side(s) of the join are skewed.

    Mirrors the reference ADT (``SkewType.scala:6-28``): ``LEFT`` means
    fragment the left side / replicate the right, ``RIGHT`` is the mirror,
    ``CROSS`` (the default) treats both sides as potentially skewed.
    """

    LEFT = "left"
    RIGHT = "right"
    CROSS = "cross"

    @property
    def left(self) -> bool:
        """True if the left side is fragmented by its own key frequency."""
        return self in (SkewType.LEFT, SkewType.CROSS)

    @property
    def right(self) -> bool:
        """True if the right side is fragmented by its own key frequency."""
        return self in (SkewType.RIGHT, SkewType.CROSS)


# Estimator for per-key frequencies, which picks the hot keys and their
# fragment counts. Output stays exact under all three: the estimate only
# routes keys to the hot or cold half of the join, and unmatched rows come
# from the data.
#   exact  — distributed groupBy().count() capped at max_hot_keys (default).
#   cms    — Count-Min Sketch built by Spark's count_min_sketch aggregate,
#            both sides in one JVM job with no Python worker (scales when
#            even the hot-key histogram is too big; biased upward by eps*N,
#            so a key may be called hot or over-fragmented).
#   sample — exact counts over a Bernoulli sample, scaled up (cheapest
#            pre-pass for very large inputs).
ESTIMATORS = ("exact", "cms", "sample")


@dataclass(frozen=True)
class SkewJoinConf:
    """Knobs for :func:`spark_skew_join_spark.operators.skew_join`.

    Field names/defaults match the reference case class
    (``SkewJoinConf.scala:6-8``): ``cms_eps``/``cms_delta``/``cms_seed``
    parameterize the Count-Min Sketch, ``replication_factor`` scales key
    frequency into a fragment count ``R = clamp(int(freq * replication_factor),
    1, num_partitions)`` (``dfimplicits.scala:76,87``), ``skew_type`` gates
    which side fragments.
    """

    cms_eps: float = 0.005
    cms_delta: float = 1e-8
    cms_seed: int = 1
    replication_factor: float = 1e-3
    skew_type: SkewType = SkewType.CROSS

    # --- rebuild-only knobs (not in the reference) ---
    estimator: str = "exact"
    # Only keys with freq >= hot_threshold enter the broadcast hot-key map.
    # None → derived: smallest freq that yields R >= 2, i.e. ceil(2 / rf);
    # colder keys behave identically to R = 1 so carrying them is pure waste.
    hot_threshold: int | None = None
    # Cap on broadcastable hot keys (top-K by count). 10k keys × ~few hundred
    # bytes ≈ MBs — safe to broadcast to 1000 executors.
    max_hot_keys: int = 10_000
    # Seed for the salt-assignment rand() columns (retry-safe expression-level
    # randomness — SURVEY §4 Q3 replaces the reference's broadcast
    # java.util.Random, dfimplicits.scala:59-65).
    salt_seed: int = 42
    # Bernoulli fraction for estimator="sample".
    sample_fraction: float = 0.01
    # Override the replication cap (reference: defaultPartitioner(...)
    # .numPartitions, dfimplicits.scala:68). None → shuffle partitions.
    num_partitions: int | None = None
    # Faithful-mode escape hatch (SURVEY §7 hard part c): join on the
    # reference's separator-less concatenated string key
    # (dfimplicits.scala:46-47,116) instead of the original columns —
    # reproduces reference behavior bit-for-bit INCLUDING the concat
    # collision ("ab","c") == ("a","bc") (quirk Q1). For equivalence
    # testing against the reference only; leave False in production.
    compat_concat_key: bool = False

    def __post_init__(self) -> None:
        if self.estimator not in ESTIMATORS:
            raise ValueError(
                f"estimator must be one of {ESTIMATORS}, got {self.estimator!r}"
            )
        if not (0 < self.replication_factor):
            raise ValueError("replication_factor must be > 0")

    @property
    def effective_hot_threshold(self) -> int:
        """Smallest key frequency that produces a fragment count >= 2."""
        if self.hot_threshold is not None:
            return self.hot_threshold
        # int(freq * rf) >= 2  ⇔  freq >= 2 / rf
        return max(2, math.ceil(2.0 / self.replication_factor))

    def replication(self, freq: int | np.ndarray, num_partitions: int) -> int | np.ndarray:
        """clamp(int(freq * replication_factor), 1, num_partitions) — the
        reference's fragment-count formula (``dfimplicits.scala:76``). An
        int for a scalar ``freq``, an int64 array for an array of them."""
        r = np.trunc(np.multiply(freq, self.replication_factor))
        r = np.maximum(1, np.minimum(r, num_partitions)).astype(np.int64)
        return int(r) if r.ndim == 0 else r
