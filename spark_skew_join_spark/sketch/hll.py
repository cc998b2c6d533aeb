"""Mergeable HyperLogLog distinct-count sketch (dense, numpy registers).

Companion to the Count-Min Sketch (cms.py — the reference's getCMS,
Utils.scala:118-121 idea applied to frequencies): HLL answers the OTHER
sketch question a 100 TB pipeline asks — how many distinct keys — with
a fixed-size mergeable state, so per-partition sketches combine
associatively without ever shuffling the keys themselves.

Standard HLL (Flajolet et al. 2007) with the HLL++ small-range bias
handling reduced to linear counting (Heule et al. 2013 §5.2, the regime
that matters at p=14 below ~2.5·m): registers = max leading-zero rank
per bucket; estimate = α·m²/Σ2^(-M); linear counting when the raw
estimate is small and zero registers remain.

Spark integration: column-pruned scan → JVM ``xxhash64`` (codegen) →
Arrow batches → numpy per-partition registers → one combine stage →
driver fold.  Python only ever sees 8-byte hashes
and 16 KiB register arrays.  (`F.approx_count_distinct` is the built-in
equivalent; this exists for sketch REUSE — persist, merge across days,
intersect via inclusion-exclusion — which the built-in aggregate cannot
do.)
"""

from __future__ import annotations

import pickle

import numpy as np

# Hash-space version (the bloom.py _FORMAT_VERSION pattern, ADVICE r8
# #2). v2 = the current contract: 64-bit mode hashes with SEEDED
# xxhash64 (theta._XXH_SEED via theta._hash_col), 60-bit mode with the
# first 15 hex chars of md5. v1 (implicit, pre-r8 pickles) hashed with
# UNSEEDED xxhash64 — registers from that hash space merge cleanly on
# (p, hash_bits) alone yet count a different key universe, silently
# inflating union estimates. Bump on any change to the hash contract.
_FORMAT_VERSION = 2


class HyperLogLog:
    """Dense HLL with 2**p registers (p=14 → 16384 registers ≈ 0.81%
    relative standard error, 16 KiB serialized).

    ``hash_bits=60`` is the md5-compat mode (value = first 15 hex chars
    of md5, the theta/CMS/Bloom precedent): index = top p bits, rank =
    leading zeros of the remaining 60-p bits + 1 — every register and
    therefore the ESTIMATE is replayable in ANSI SQL, so the registry
    queries using it are hash-checked, not just error-gated."""

    def __init__(self, p: int = 14, hash_bits: int = 64):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        if hash_bits not in (60, 64):
            raise ValueError("hash_bits must be 60 (md5) or 64 (xxhash64)")
        self.p = p
        self.m = 1 << p
        self.hash_bits = hash_bits
        self.registers = np.zeros(self.m, dtype=np.uint8)

    # -- building ------------------------------------------------------
    def add_hashed(self, hashes: np.ndarray) -> None:
        """Fold already-hashed int64 values (e.g. Spark xxhash64) in."""
        b = self.hash_bits
        h = hashes.astype(np.int64).view(np.uint64)
        idx = (h >> np.uint64(b - self.p)).astype(np.int64)
        # tail = the low (b-p) bits, left-aligned into 64 with sentinel
        # low bits so ranks cap at (b-p)+1 without a branch
        shift = 64 - (b - self.p)
        tail = h & np.uint64((1 << (b - self.p)) - 1)
        rest = (tail << np.uint64(shift)) | np.uint64((1 << shift) - 1)
        # rank = leading zeros of the remaining 64-p bits, +1 — the
        # sentinel low bits cap ranks at 64-p+1 without a branch.
        # Integer clz (binary-search shifts), not float log2: a float64
        # cast rounds suffixes just below a power of two UP to it, which
        # would undercount the rank by 1.
        clz = np.zeros(rest.shape, dtype=np.uint64)
        for s in (32, 16, 8, 4, 2, 1):
            top_zero = (rest >> np.uint64(64 - s)) == 0
            clz += np.where(top_zero, np.uint64(s), np.uint64(0))
            rest = np.where(top_zero, rest << np.uint64(s), rest)
        rank = (clz + np.uint64(1)).astype(np.uint8)
        np.maximum.at(self.registers, idx, rank)

    # -- merging -------------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if (self.p, self.hash_bits) != (other.p, other.hash_bits):
            raise ValueError("cannot merge HLLs with different p/hash_bits")
        out = HyperLogLog(self.p, self.hash_bits)
        out.registers = np.maximum(self.registers, other.registers)
        return out

    # -- estimating ----------------------------------------------------
    # Flajolet et al. 2007 give exact bias constants for the small
    # register counts; the 0.7213/(1+1.079/m) closed form only holds
    # for m >= 128 (p >= 7).
    _SMALL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}

    def estimate(self) -> float:
        m = float(self.m)
        alpha = self._SMALL_ALPHA.get(self.m, 0.7213 / (1.0 + 1.079 / m))
        raw = alpha * m * m / np.sum(
            np.exp2(-self.registers.astype(np.float64))
        )
        zeros = int(np.count_nonzero(self.registers == 0))
        if raw <= 2.5 * m and zeros > 0:
            return m * float(np.log(m / zeros))  # linear counting
        return float(raw)

    def __reduce__(self):
        return (_rebuild_hll,
                (self.p, self.registers, self.hash_bits, _FORMAT_VERSION))


def _rebuild_hll(p, registers, hash_bits=64, version=1):
    if version != _FORMAT_VERSION:
        raise ValueError(
            f"HyperLogLog pickle format v{version} does not match this "
            f"build's v{_FORMAT_VERSION} (hash seed/space changed); "
            "rebuild the sketch — merging registers from different hash "
            "spaces silently inflates union estimates"
        )
    h = HyperLogLog(p, hash_bits)
    h.registers = registers
    return h


def hll_from_dataframe(df, key_cols: list[str], p: int = 14,
                       combine_partitions: int = 8,
                       hash_fn: str = "xxhash64") -> HyperLogLog:
    """Distributed HLL over the tuple of ``key_cols`` (NULL tuples
    skipped, matching COUNT(DISTINCT) semantics), built by a two-level
    mapInPandas (per partition, then a combine stage). ``hash_fn="md5"``
    builds the 60-bit SQL-replayable variant."""
    from pyspark.sql import functions as F

    from .theta import _hash_col

    filtered = df
    for c in key_cols:
        filtered = filtered.where(F.col(c).isNotNull())
    hc, bits = _hash_col(key_cols, hash_fn)
    hashed = filtered.select(hc.alias("h"))

    def build(batches):
        import pandas as pd

        local = HyperLogLog(p, bits)
        for pdf in batches:
            local.add_hashed(pdf["h"].to_numpy())
        yield pd.DataFrame({"sketch": [pickle.dumps(local)]})

    def combine(batches):
        import pandas as pd

        acc = HyperLogLog(p, bits)
        for pdf in batches:
            for blob in pdf["sketch"]:
                acc = acc.merge(pickle.loads(blob))
        yield pd.DataFrame({"sketch": [pickle.dumps(acc)]})

    level1 = hashed.mapInPandas(build, "sketch binary")
    level2 = level1.repartition(combine_partitions).mapInPandas(
        combine, "sketch binary"
    )
    out = HyperLogLog(p, bits)
    for row in level2.collect():
        out = out.merge(pickle.loads(row["sketch"]))
    return out


def hll_by_group(df, group_col: str, key_cols: list[str], p: int = 14,
                 combine_partitions: int = 8,
                 hash_fn: str = "xxhash64") -> dict:
    """One HLL per distinct ``group_col`` value, built with the SAME
    bounded-memory two-level mapInPandas fold as hll_from_dataframe —
    each partition folds only ITS slice of each group into a 16 KiB
    sketch, so no executor ever materializes a whole group's rows (the
    applyInPandas-per-group shape does exactly that; ADVICE r5 #4).
    Level 2 hash-partitions the (group, sketch) rows by group and
    merges within partitions, so the driver folds at most
    ``combine_partitions`` sketches per group. Returns
    {group_value: HyperLogLog}; rows whose ``group_col`` is NULL form
    their own group under the key ``None`` (the group is tagged with a
    one-char prefix before the pandas fold, so NULL is never silently
    dropped by pandas' default ``dropna`` and cannot collide with a
    real value; ADVICE r6 #2)."""
    from pyspark.sql import functions as F

    filtered = df
    for c in key_cols:
        filtered = filtered.where(F.col(c).isNotNull())
    hc, bits = _hash_col_by(key_cols, hash_fn)
    hashed = filtered.select(
        _tagged_group(F, group_col).alias("g"),
        hc.alias("h"),
    )

    def build(batches):
        import pandas as pd

        local: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g", sort=False):
                sk = local.get(g)
                if sk is None:
                    sk = local[g] = HyperLogLog(p, bits)
                sk.add_hashed(sub["h"].to_numpy())
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

    level1 = hashed.mapInPandas(build, "g string, sketch binary")
    level2 = level1.repartition(combine_partitions, "g").mapInPandas(
        combine, "g string, sketch binary"
    )
    out: dict = {}
    for row in level2.collect():
        sk = pickle.loads(row["sketch"])
        g = _untag_group(row["g"])
        out[g] = sk if g not in out else out[g].merge(sk)
    return out


def _hash_col_by(key_cols, hash_fn):
    from .theta import _hash_col

    return _hash_col(key_cols, hash_fn)


def _tagged_group(F, group_col: str):
    """NULL-safe string group key: ``"n"`` for NULL, ``"v" + value``
    otherwise — survives pandas groupby (which drops NaN keys by
    default) and cannot collide with any real value."""
    return F.when(F.col(group_col).isNull(), F.lit("n")).otherwise(
        F.concat(F.lit("v"), F.col(group_col).cast("string"))
    )


def _untag_group(g: str):
    return None if g == "n" else g[1:]
