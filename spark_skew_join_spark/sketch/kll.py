"""Mergeable KLL quantile sketch (Karnin, Lang, Liberty 2016,
"Optimal Quantile Approximation in Streams").

Completes the sketch family (CMS frequencies, HLL distinct counts,
Misra-Gries heavy hitters, bottom-k samples — VERDICT r4 #7): a
fixed-size mergeable summary answering rank/quantile queries with
normalized rank error ~O(1/k), far tighter than bottom-k's
sqrt(q(1-q)/k) at the same footprint.

Structure: a stack of compactors.  Level h holds items of weight 2^h;
when a level overflows its capacity (k·c^(depth) with c=2/3, floored at
2) it sorts its buffer and promotes every other item — starting from a
randomly chosen parity — to the level above.  Merging concatenates
levels pairwise and re-compacts; estimates are weighted ranks over all
levels.  The randomness is a seeded ``numpy`` generator, so builds are
reproducible; merge results depend on merge ORDER internally, but every
order's estimates stay inside the same rank-error bound (pinned by the
associativity property test).

For k=200 the practical single-sided normalized rank error is ~1.65%
at 99% confidence (the Apache DataSketches calibration of the same
algorithm); ``rank_error_bound()`` reports a conservative 2·1.65%/√(k/200)
envelope that the registry query gates on in-query.

Spark integration mirrors cms.py/hll.py: column-pruned scan → Arrow
batches → numpy per-partition sketches → one combine stage → driver
fold.  Only float64 buffers of bounded size (~3k items) ever cross the
Python boundary.
"""

from __future__ import annotations

import pickle

import numpy as np

_C = 2.0 / 3.0


class KLL:
    """KLL sketch over float64 values. ``k`` controls accuracy/size."""

    def __init__(self, k: int = 200, seed: int = 1):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.seed = seed
        self._rng = np.random.default_rng(seed)
        self.compactors: list[np.ndarray] = [np.empty(0)]
        self.n = 0

    # -- capacities ----------------------------------------------------
    def _capacity(self, level: int) -> int:
        # top level holds k items; each level below shrinks by c
        depth = len(self.compactors) - 1 - level
        return max(int(np.ceil(self.k * (_C ** depth))), 2)

    def _size(self) -> int:
        return sum(len(c) for c in self.compactors)

    def _max_size(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.compactors)))

    # -- building ------------------------------------------------------
    def add(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if not len(v):
            return
        self.n += len(v)
        self.compactors[0] = np.concatenate([self.compactors[0], v])
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._max_size():
            for h in range(len(self.compactors)):
                if len(self.compactors[h]) > self._capacity(h):
                    self._compact_level(h)
                    break
            else:  # every level within capacity but total over: grow
                self.compactors.append(np.empty(0))

    def _compact_level(self, h: int) -> None:
        if h + 1 == len(self.compactors):
            self.compactors.append(np.empty(0))
        buf = np.sort(self.compactors[h])
        # an odd buffer keeps its max in place so promoted weight is
        # exactly the compacted weight (2·(L/2) = L, no bias)
        if len(buf) % 2 == 1:
            leftover, buf = buf[-1:], buf[:-1]
        else:
            leftover = np.empty(0)
        parity = int(self._rng.integers(0, 2))
        promoted = buf[parity::2]
        self.compactors[h] = leftover
        self.compactors[h + 1] = np.concatenate(
            [self.compactors[h + 1], promoted]
        )

    # -- merging -------------------------------------------------------
    def merge(self, other: "KLL") -> "KLL":
        if self.k != other.k:
            raise ValueError("cannot merge KLL sketches with different k")
        out = KLL(self.k, self.seed)
        out.n = self.n + other.n
        depth = max(len(self.compactors), len(other.compactors))
        out.compactors = []
        for h in range(depth):
            parts = []
            if h < len(self.compactors):
                parts.append(self.compactors[h])
            if h < len(other.compactors):
                parts.append(other.compactors[h])
            out.compactors.append(
                np.concatenate(parts) if parts else np.empty(0)
            )
        out._compress()
        return out

    # -- estimating ----------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, c in enumerate(self.compactors):
            if len(c):
                vals.append(c)
                wts.append(np.full(len(c), 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def rank(self, x: float) -> float:
        """Estimated normalized rank of x: fraction of items <= x."""
        if self.n == 0:
            return 0.0
        v, w = self._weighted()
        return float(w[v <= x].sum()) / self.n

    def quantile(self, q: float) -> float:
        """Estimated q-quantile (smallest value whose weighted rank
        reaches q·n)."""
        if not 0.0 <= q <= 1.0:
            raise ValueError("q must be in [0, 1]")
        if self.n == 0:
            raise ValueError("empty sketch")
        v, w = self._weighted()
        cum = np.cumsum(w)
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(idx, len(v) - 1)])

    def quantiles(self, qs: list[float]) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank_error_bound(self) -> float:
        """Conservative two-sided normalized rank-error envelope."""
        return 2 * 0.0165 / np.sqrt(self.k / 200.0)

    def __reduce__(self):
        return (_rebuild_kll, (self.k, self.seed, self.n, self.compactors))


def _rebuild_kll(k, seed, n, compactors):
    s = KLL(k, seed)
    s.n = n
    s.compactors = compactors
    return s


class KLLCompat:
    """Deterministic md5-compat KLL register state (VERDICT r12 #3 —
    the hll.py/theta.py md5-mode precedent applied to quantiles).

    The classic KLL above flips a seeded coin per compaction, so its
    final state depends on the arrival order and no SQL engine can
    replay it. Compat mode makes every compaction coin a pure function
    of the ITEM — survival of level-h compaction = bit h of the row's
    md5-derived 60-bit hash is 0 — and compacts eagerly (every buffer
    flushes), so the cascade collapses to a single top-level compactor
    whose content is the order-independent register set

        {x : u60(x) >> (60 - H) == 0},  weight 2^H per item,

    with H the smallest level at which the expected survivor count
    fits the budget: H = bit_length(ceil(n/k) - 1). Both the set and H
    are integer-exact functions of the data, so a DuckDB oracle
    replays estimates bit-for-bit. The price of determinism is the
    error bound: Bernoulli-sample rank error O(sqrt(q(1-q)/m)) instead
    of KLL's O(1/k) — documented here and gated in-query, the same
    honest trade the md5 modes of HLL/theta/CMS make.

    Mergeable: union the (hash, value) registers, recompute H for
    n1+n2, drop registers that fail the higher threshold — exactly the
    theta-sketch adaptation. Stored registers are <= ~2k rows.
    """

    def __init__(self, k: int, level: int, n: int,
                 hashes: np.ndarray, values: np.ndarray):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.level = level
        self.n = n
        order = np.argsort(values, kind="stable")
        self.hashes = np.asarray(hashes, dtype=np.int64)[order]
        self.values = np.asarray(values, dtype=np.float64)[order]

    @staticmethod
    def level_for(n: int, k: int) -> int:
        """Smallest H with ceil(n/k) <= 2^H — pure integer arithmetic
        so the SQL replay (MIN b WHERE ((ceil(n/k)-1) >> b) = 0) agrees
        on every boundary, unlike a float log2."""
        if n <= 0:
            return 0
        t = (n + k - 1) // k
        return (t - 1).bit_length()

    @property
    def m(self) -> int:
        return len(self.values)

    def quantile(self, q: float) -> float:
        """Value at 1-based register rank clamp(ceil(q·m), 1, m) — the
        double product q·m and its ceil are IEEE-identical to the SQL
        CEIL(q * m), so estimates replay exactly."""
        import math

        if not 0.0 <= q <= 1.0:
            raise ValueError("q must be in [0, 1]")
        if self.m == 0:
            raise ValueError("empty sketch")
        r = min(self.m, max(1, math.ceil(q * self.m)))
        return float(self.values[r - 1])

    def quantiles(self, qs: list[float]) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank(self, x: float) -> float:
        """Estimated normalized rank: weighted register count <= x,
        kept as (count << level) / n integer-then-divide so SQL's
        (COUNT(*) * (1 << h)) * 1.0 / n reproduces the double."""
        if self.n == 0:
            return 0.0
        cnt = int(np.searchsorted(self.values, x, side="right"))
        return float(cnt * (1 << self.level)) / self.n

    def rank_error_bound(self) -> float:
        """Conservative 3-sigma Bernoulli-thinning rank-error envelope:
        Var(rank est at q) = q·(2^H)·(1-2^-H)/n <= 2^H/n, so sigma <=
        sqrt(2^H/n) — deterministic given (n, H), SQL-replayable as
        3.0*SQRT((1 << h) * 1.0 / n)."""
        return 3.0 * np.sqrt((1 << self.level) / max(1, self.n))

    def merge(self, other: "KLLCompat") -> "KLLCompat":
        if self.k != other.k:
            raise ValueError("cannot merge KLLCompat with different k")
        n = self.n + other.n
        level = max(self.level_for(n, self.k), self.level, other.level)
        h = np.concatenate([self.hashes, other.hashes])
        v = np.concatenate([self.values, other.values])
        keep = (h >> (60 - level)) == 0 if level > 0 else np.ones(
            len(h), dtype=bool
        )
        return KLLCompat(self.k, level, n, h[keep], v[keep])


def kll_compat_from_dataframe(df, key_col: str, value_col: str,
                              k: int = 200) -> KLLCompat:
    """Deterministic replayable quantile sketch over a numeric column
    (NULL values skipped), keyed by a unique row id so duplicate values
    sample independently. Two scan-level jobs, NO shuffle: (1) count n
    → H on the driver, (2) a pushed-down map-side hash filter keeps
    ~k..2k rows, collected as the register set. At 100 TB the filter
    is still one scan with a ~2k-row collect; the md5 runs JVM-side."""
    from pyspark.sql import functions as F

    vals = df.where(F.col(value_col).isNotNull())
    n = vals.count()
    level = KLLCompat.level_for(n, k)
    u60 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rows = (
        vals.select(
            u60.alias("__u"), F.col(value_col).cast("double").alias("__v")
        )
        .where(F.shiftright(F.col("__u"), 60 - level) == 0)
        .collect()
    )
    return KLLCompat(
        k, level, n,
        np.array([r["__u"] for r in rows], dtype=np.int64),
        np.array([r["__v"] for r in rows], dtype=np.float64),
    )


def kll_compat_by_group(df, group_col: str, key_col: str, value_col: str,
                        k: int = 200) -> dict:
    """One KLLCompat per distinct ``group_col`` value (bounded group
    cardinality is the caller's contract, as in kll_by_group's driver
    fold). One count job for per-group n → per-group H on the driver,
    then ONE filtered scan collects every group's register rows (a
    when-chain threshold per group — no shuffle, no per-group jobs).
    NULL groups survive under the key ``None``."""
    from pyspark.sql import functions as F

    vals = df.where(F.col(value_col).isNotNull())
    counts = {
        r["g"]: r["n"]
        for r in vals.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        # every value NULL (or no rows): no groups to sketch — return
        # {} instead of crashing on an empty when-chain (ADVICE r13)
        return {}
    levels = {g: KLLCompat.level_for(n, k) for g, n in counts.items()}
    # u >> (60-H) == 0  ⟺  u < 2^(60-H) for the non-negative 60-bit
    # hash — a threshold compare sidesteps shiftright's int-only
    # numBits while replaying the oracle's >> exactly
    thr = None
    for g, lv in levels.items():
        cond = (
            F.col(group_col).isNull()
            if g is None
            else (F.col(group_col) == F.lit(g))
        )
        bound = F.lit(1 << (60 - lv))
        thr = F.when(cond, bound) if thr is None else thr.when(cond, bound)
    u60 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rows = (
        vals.select(
            F.col(group_col).alias("__g"),
            u60.alias("__u"),
            F.col(value_col).cast("double").alias("__v"),
            thr.alias("__t"),
        )
        .where(F.col("__u") < F.col("__t"))
        .collect()
    )
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r["__g"], []).append((r["__u"], r["__v"]))
    out = {}
    for g, n in counts.items():
        pairs = by_g.get(g, [])
        out[g] = KLLCompat(
            k, levels[g], int(n),
            np.array([p[0] for p in pairs], dtype=np.int64),
            np.array([p[1] for p in pairs], dtype=np.float64),
        )
    return out


def kll_from_dataframe(df, value_col: str, k: int = 200, seed: int = 1,
                       combine_partitions: int = 8) -> KLL:
    """Distributed KLL over a numeric column (NULLs skipped).  Two-level
    mapInPandas build: per-partition sketches → bounded combine stage →
    driver fold; only ~3k-float64
    buffers cross the Python boundary."""
    from pyspark.sql import functions as F

    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("v")
    )

    def build(batches):
        import pandas as pd

        local = KLL(k, seed)
        for pdf in batches:
            local.add(pdf["v"].to_numpy())
        yield pd.DataFrame({"sketch": [pickle.dumps(local)]})

    def combine(batches):
        import pandas as pd

        acc = KLL(k, seed)
        for pdf in batches:
            for blob in pdf["sketch"]:
                acc = acc.merge(pickle.loads(blob))
        yield pd.DataFrame({"sketch": [pickle.dumps(acc)]})

    level1 = vals.mapInPandas(build, "sketch binary")
    level2 = level1.repartition(combine_partitions).mapInPandas(
        combine, "sketch binary"
    )
    out = KLL(k, seed)
    for row in level2.collect():
        out = out.merge(pickle.loads(row["sketch"]))
    return out


def kll_by_group(df, group_col: str, value_col: str, k: int = 200,
                 seed: int = 1, combine_partitions: int = 8) -> dict:
    """One KLL per distinct ``group_col`` value, built with the SAME
    bounded-memory two-level mapInPandas fold as kll_from_dataframe —
    each partition folds only ITS slice of each group, so no executor
    ever materializes a whole group's rows (the applyInPandas-per-group
    shape does exactly that; ADVICE r5 #4). Level 2 hash-partitions the
    (group, sketch) rows by group, so the driver folds at most
    ``combine_partitions`` sketches per group. Returns {group: KLL};
    NULL groups survive under the key ``None`` via the same one-char
    tag as hll_by_group (ADVICE r6 #2)."""
    from pyspark.sql import functions as F

    from .hll import _tagged_group, _untag_group

    vals = df.where(F.col(value_col).isNotNull()).select(
        _tagged_group(F, group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
    )

    def build(batches):
        import pandas as pd

        local: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g", sort=False):
                sk = local.get(g)
                if sk is None:
                    sk = local[g] = KLL(k, seed)
                sk.add(sub["v"].to_numpy())
        yield pd.DataFrame(
            {"g": list(local), "sketch": [pickle.dumps(s) for s in local.values()]}
        )

    def combine(batches):
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            for g, blob in zip(pdf["g"], pdf["sketch"]):
                sk = pickle.loads(blob)
                acc[g] = sk if g not in acc else acc[g].merge(sk)
        yield pd.DataFrame(
            {"g": list(acc), "sketch": [pickle.dumps(s) for s in acc.values()]}
        )

    level1 = vals.mapInPandas(build, "g string, sketch binary")
    level2 = level1.repartition(combine_partitions, "g").mapInPandas(
        combine, "g string, sketch binary"
    )
    out: dict = {}
    for row in level2.collect():
        sk = pickle.loads(row["sketch"])
        g = _untag_group(row["g"])
        out[g] = sk if g not in out else out[g].merge(sk)
    return out
