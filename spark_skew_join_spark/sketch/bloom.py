"""Mergeable Bloom filter (numpy bit array, Kirsch-Mitzenmacher hashing).

Member of the sketch family (cms.py frequencies; Spark's DataSketches
``hll_sketch_agg`` for distinct counts): the Bloom filter answers the
MEMBERSHIP question a 100 TB pipeline asks constantly — "was this URL /
doc hash / customer key seen before?" — with a fixed-size, associatively
mergeable bit array and a one-sided error guarantee (no false negatives,
bounded false-positive rate). Classic use at scale: seen-URL dedup
across crawl shards, and shipping a compact membership summary of one
table to prefilter another without shuffling either.

Hashing: Spark's JVM ``xxhash64`` with two seeds runs codegen-side; the
k probe positions derive as h1 + i*h2 (Kirsch & Mitzenmacher 2006 —
two independent hashes simulate k with no detectable loss), so Python
only ever sees two 8-byte hashes per row, never the keys.

Spark integration (Spark's ``bloom_filter_agg`` is not a registered
function): column-pruned scan → JVM hashes → Arrow batches → numpy
per-partition bit arrays → one combine stage → driver fold. Union of
Bloom filters over the same (m, k, seeds) is bitwise OR — exactly
associative, so bloom(A ∪ B) ≡ bloom(A) | bloom(B) bit-for-bit (pinned
in tests/test_bloom.py).

False-positive envelope for n inserted keys: fp ≈ (1 - e^(-k·n/m))^k;
``fp_bound`` below returns it so callers can gate observed rates.
"""

from __future__ import annotations

import math
import pickle

import numpy as np

_SEED1 = 0x51ED_CAFE
_SEED2 = 0x0B10_0A17

# Probe-layout version. v2 = odd stride (h2 | 1, ADVICE r6 #4); v3
# records the hash function on the filter itself (ADVICE r8 #1) so a
# filter built under md5 can never be probed under xxhash64 (or vice
# versa). Bump on any change to _positions OR the hash contract so a
# persisted filter built under one layout is never probed under
# another (that silently voids the no-false-negative guarantee —
# ADVICE r7 #5).
_FORMAT_VERSION = 3


class BloomFilter:
    """Bit-array Bloom filter with ``m_bits`` bits and ``k`` probes.

    Default m=1<<20 (128 KiB), k=7: ~1e-4 fp at 50k keys, ~0.8% at
    500k — sized for per-shard summaries that merge upward.
    """

    def __init__(self, m_bits: int = 1 << 20, k: int = 7,
                 hash_fn: str = "xxhash64"):
        if m_bits <= 0 or m_bits % 64:
            raise ValueError("m_bits must be a positive multiple of 64")
        if not 1 <= k <= 16:
            raise ValueError("k must be in [1, 16]")
        if hash_fn not in ("xxhash64", "md5"):
            raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
        self.m = m_bits
        self.k = k
        # The hash function that produced (h1, h2) for every inserted
        # key. Probing with the OTHER hash function yields arbitrary
        # bits — i.e. silent false negatives — so the filter records it
        # and bloom_prefilter derives its probe hashes from this field
        # (ADVICE r8 #1).
        self.hash_fn = hash_fn
        self.bits = np.zeros(m_bits // 64, dtype=np.uint64)

    # -- building ------------------------------------------------------
    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) probe positions from the two xxhash64 columns.

        The stride is forced odd (``h2 | 1``) per the standard
        Kirsch–Mitzenmacher construction for power-of-two tables:
        with m a power of two, an even h2 shares a factor with m and
        collapses some of the k probes onto repeated positions (worst
        case h2 % m == 0 puts ALL probes on one bit), locally
        degrading the fp envelope (ADVICE r6 #4)."""
        a = h1.astype(np.int64).view(np.uint64)[:, None]
        b = h2.astype(np.int64).view(np.uint64)[:, None] | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return ((a + i * b) % np.uint64(self.m)).astype(np.uint64)

    def add_hashed(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def contains_hashed(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized membership test → bool array (no false negatives)."""
        pos = self._positions(h1, h2)
        word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
        hit = (word >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=1)

    # -- merging -------------------------------------------------------
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m, self.k, self.hash_fn) != (
            other.m, other.k, other.hash_fn
        ):
            raise ValueError(
                "cannot merge Bloom filters with different m/k/hash_fn"
            )
        out = BloomFilter(self.m, self.k, self.hash_fn)
        out.bits = self.bits | other.bits
        return out

    def fill_ratio(self) -> float:
        set_bits = int(np.unpackbits(self.bits.view(np.uint8)).sum())
        return set_bits / self.m

    def fp_bound(self, n_keys: int) -> float:
        """(1 - e^(-kn/m))^k — the standard fp envelope at n keys."""
        return (1.0 - math.exp(-self.k * n_keys / self.m)) ** self.k

    def __reduce__(self):
        return (_rebuild_bloom,
                (self.m, self.k, self.bits, _FORMAT_VERSION, self.hash_fn))


def _rebuild_bloom(m, k, bits, version=1, hash_fn="xxhash64"):
    if version != _FORMAT_VERSION:
        raise ValueError(
            f"BloomFilter pickle format v{version} does not match this "
            f"build's v{_FORMAT_VERSION} (probe layout or hash contract "
            "changed); rebuild the filter — probing across layouts loses "
            "the no-false-negative guarantee"
        )
    b = BloomFilter(m, k, hash_fn)
    b.bits = bits
    return b


def _hashed(df, key_cols: list[str], hash_fn: str = "xxhash64"):
    """NULL-tuple-filtered (h1, h2) projection — keys never reach Python.

    ``hash_fn="md5"``: h1/h2 are the first/second 15 hex chars of one
    md5 (60 bits each) — bit-equal in ANSI SQL
    (``CAST('0x' || SUBSTRING(MD5(key), 1, 15) AS BIGINT)``), so a
    DuckDB oracle can replay every probe position. xxhash64 stays the
    fast default."""
    from pyspark.sql import functions as F

    from .cms import spark_key_expr

    filtered = df
    for c in key_cols:
        filtered = filtered.where(F.col(c).isNotNull())
    key = spark_key_expr(key_cols)
    if hash_fn == "xxhash64":
        h1 = F.xxhash64(key, F.lit(_SEED1))
        h2 = F.xxhash64(key, F.lit(_SEED2))
    elif hash_fn == "md5":
        h1 = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(F.md5(key), 16, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    return filtered.select(h1.alias("h1"), h2.alias("h2"))


def bloom_from_dataframe(df, key_cols: list[str], m_bits: int = 1 << 20,
                         k: int = 7, combine_partitions: int = 8,
                         hash_fn: str = "xxhash64") -> BloomFilter:
    """Distributed Bloom build over the tuple of ``key_cols`` (NULL
    tuples skipped).  Two-level mapInPandas: per-partition bit arrays,
    one hash-partitioned combine stage, bounded driver fold."""

    def build(batches):
        import pandas as pd

        local = BloomFilter(m_bits, k, hash_fn)
        for pdf in batches:
            local.add_hashed(pdf["h1"].to_numpy(), pdf["h2"].to_numpy())
        yield pd.DataFrame({"sketch": [pickle.dumps(local)]})

    def combine(batches):
        import pandas as pd

        acc = BloomFilter(m_bits, k, hash_fn)
        for pdf in batches:
            for blob in pdf["sketch"]:
                acc = acc.merge(pickle.loads(blob))
        yield pd.DataFrame({"sketch": [pickle.dumps(acc)]})

    level1 = _hashed(df, key_cols, hash_fn).mapInPandas(
        build, "sketch binary"
    )
    level2 = level1.repartition(combine_partitions).mapInPandas(
        combine, "sketch binary"
    )
    out = BloomFilter(m_bits, k, hash_fn)
    for row in level2.collect():
        out = out.merge(pickle.loads(row["sketch"]))
    return out


def bloom_prefilter(df, bloom: BloomFilter, key_cols: list[str],
                    keep: str = "member", hash_fn: str | None = None):
    """Filter ``df`` by broadcast Bloom membership of ``key_cols``.

    keep="member" retains probable members (may keep false positives —
    downstream must re-verify exactly); keep="non_member" retains
    definite non-members (EXACT: the no-false-negative guarantee means
    a key the filter rejects was never inserted — the safe side for
    "drop already-seen" dedup).  The filter broadcasts once (m/8 bytes);
    rows never shuffle.

    The probe hashes derive from the hash function RECORDED on the
    filter at build time (ADVICE r8 #1) — probing an md5-built filter
    with xxhash64 hashes (or vice versa) yields arbitrary bits, i.e.
    silent false negatives. ``hash_fn`` stays only as an assertion
    hook: passing a value that disagrees with the filter's record
    raises instead of silently mismatching.
    """
    if keep not in ("member", "non_member"):
        raise ValueError("keep must be member|non_member")
    recorded = getattr(bloom, "hash_fn", "xxhash64")
    if hash_fn is None:
        hash_fn = recorded
    elif hash_fn != recorded:
        raise ValueError(
            f"filter was built with hash_fn={recorded!r} but the probe "
            f"requested {hash_fn!r} — cross-hash probing voids the "
            "no-false-negative guarantee"
        )
    from pyspark.sql import functions as F

    from .cms import spark_key_expr

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(pickle.dumps(bloom))
    key = spark_key_expr(key_cols)
    if hash_fn == "xxhash64":
        h1 = F.xxhash64(key, F.lit(_SEED1))
        h2 = F.xxhash64(key, F.lit(_SEED2))
    elif hash_fn == "md5":
        h1 = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(F.md5(key), 16, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    with_h = df.withColumns({"__bl_h1": h1, "__bl_h2": h2})
    schema = with_h.schema
    want_member = keep == "member"

    def flt(batches):
        local = pickle.loads(bc.value)
        for pdf in batches:
            hit = local.contains_hashed(
                pdf["__bl_h1"].to_numpy(), pdf["__bl_h2"].to_numpy()
            )
            yield pdf[hit if want_member else ~hit]

    return with_h.mapInPandas(flt, schema).drop("__bl_h1", "__bl_h2")
