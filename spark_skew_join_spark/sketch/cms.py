"""Count-Min Sketch in Spark's own layout, built by Spark's aggregate.

Plays the role of Algebird's ``CMS[String]`` in the reference
(``Utils.scala:92-122``): a mergeable frequency summary built over a key
column. Differences by design (SURVEY §2 O3):

* the reference builds one sketch **per record** and reduces pairwise
  (``Utils.scala:119-120``); we build it with Spark's built-in
  ``count_min_sketch`` aggregate — one JVM job, no Python worker — and
  decode the serialized sketch with numpy on the driver (``from_spark``);
* the table is Spark's ``CountMinSketchImpl``: row ``d`` maps an int64
  item ``x`` to ``((h + (h >> 32)) & (2^31-1)) % width`` with
  ``h = hash_a[d] * x`` (64-bit wrap), and ``hash_a`` is drawn from
  ``java.util.Random(seed)``. The items are the keys' JVM
  ``xxhash64(spark_key_expr(key_cols))``, so callers that hold Spark's
  hash (the skew-join pre-pass, the streaming detector) estimate without
  re-stringifying keys in Python; ``estimate(key)`` hashes ``str(key)``
  with the pure-Python XXH64 (``xxh64.py``, pinned to Spark by test);
* sizing keeps the Algebird-style width ``⌈e/eps⌉`` (Spark would use
  ``⌈2/eps⌉``) and takes Spark's depth ``⌈log2(1/delta)⌉``;
* composite keys join with a NUL separator (no concat collisions, SURVEY §4
  Q1); rows with any null key column are skipped (null keys never
  equi-match).

At the reference defaults (eps=0.005, delta=1e-8) the table is
27 × 544 int64 ≈ 118 KB. Keys are compared through their Spark
``CAST(x AS STRING)`` form, so ``estimate(key)`` on a non-string key must
be given that form (``"true"``, ``"1.0E20"``); ``estimate_hashed`` on
Spark's hash needs none.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterable

import numpy as np

from .xxh64 import to_signed64, xxh64

KEY_SEP = "\x00"

_SPARK_CMS_VERSION = 1
_HEADER = struct.Struct(">iqii")  # version, total count, depth, width


def _dims(eps: float, delta: float) -> tuple[int, int]:
    """(depth, width): Spark's depth ``⌈log2(1/delta)⌉``, Algebird's width ``⌈e/eps⌉``."""
    return math.ceil(math.log2(1.0 / delta)), math.ceil(math.e / eps)


def _java_random_ints(seed: int, n: int) -> np.ndarray:
    """``n`` draws of ``java.util.Random(seed).nextInt(Integer.MAX_VALUE)``."""
    mask, mult, bound = (1 << 48) - 1, 0x5DEECE66D, (1 << 31) - 1
    state, out = (seed ^ mult) & mask, []
    while len(out) < n:
        state = (state * mult + 0xB) & mask
        u = state >> 17  # next(31)
        if u < bound:  # nextInt(bound) rejects only u == bound
            out.append(u)
    return np.array(out, dtype=np.int64)


class CountMinSketch:
    """Count-Min Sketch over int64 key hashes, in Spark's layout.

    estimate(k) >= true_freq(k) always, and
    estimate(k) <= true_freq(k) + eps * N with probability >= 1 - delta.
    """

    __slots__ = ("eps", "delta", "seed", "depth", "width", "hash_a", "table", "total")

    def __init__(self, eps: float = 0.005, delta: float = 1e-8, seed: int = 1):
        if not (0 < eps < 1) or not (0 < delta < 1):
            raise ValueError("eps and delta must be in (0, 1)")
        self.eps = eps
        self.delta = delta
        self.seed = seed
        self.depth, self.width = _dims(eps, delta)
        self.hash_a = _java_random_ints(seed, self.depth)
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    @classmethod
    def from_spark(cls, data: bytes) -> "CountMinSketch":
        """Decode the bytes of Spark's ``count_min_sketch`` aggregate
        (``CountMinSketchImpl.writeTo``, big-endian): version, total,
        depth, width, ``hash_a[depth]``, then ``table[depth·width]``.
        The bytes carry no seed, so ``seed`` is None and ``eps``/``delta``
        are the values this class would size the table from."""
        version, total, depth, width = _HEADER.unpack_from(data)
        if version != _SPARK_CMS_VERSION:
            raise ValueError(f"unsupported Spark CMS version {version}")
        off = _HEADER.size
        words = np.frombuffer(data, ">i8", depth * (width + 1), off).astype(np.int64)
        out = cls.__new__(cls)
        out.eps, out.delta, out.seed = math.e / width, 2.0**-depth, None
        out.depth, out.width, out.total = depth, width, total
        out.hash_a = words[:depth]
        out.table = words[depth:].reshape(depth, width)
        return out

    # -- hashing -----------------------------------------------------------
    def _buckets(self, a, items):
        """Bucket of int64 ``items`` under multiplier(s) ``a`` from
        ``hash_a`` — ``CountMinSketchImpl.hash``; broadcasts like numpy."""
        with np.errstate(over="ignore"):
            h = a * items
            h = h + (h >> 32)
        return (h & 0x7FFFFFFF) % self.width

    @staticmethod
    def _hash_key(key: object) -> int:
        data = key if isinstance(key, bytes) else str(key).encode("utf-8")
        return to_signed64(xxh64(data))  # seed 42, identical to Spark's F.xxhash64

    # -- updates -----------------------------------------------------------
    def add(self, key: object, count: int = 1) -> None:
        cols = self._buckets(self.hash_a, np.int64(self._hash_key(key)))
        self.table[np.arange(self.depth), cols] += count
        self.total += count

    def add_all(self, keys: Iterable[object]) -> "CountMinSketch":
        for k in keys:
            self.add(k)
        return self

    def add_hashed(self, hashes: np.ndarray) -> None:
        """Vectorized bulk add from Spark ``xxhash64`` values (signed int64
        array straight out of Arrow)."""
        if len(hashes) == 0:
            return
        items = np.asarray(hashes, dtype=np.int64)
        for d in range(self.depth):
            idx = self._buckets(self.hash_a[d], items)
            self.table[d] += np.bincount(idx, minlength=self.width)
        self.total += len(items)

    def estimate(self, key: object) -> int:
        return self.estimate_hashed(self._hash_key(key))

    def estimate_hashed(self, h):
        """Estimate from precomputed Spark ``xxhash64`` values (a signed
        int64 or an array of them) — the lookup twin of ``add_hashed``, so
        callers that already hold JVM hashes never re-hash in Python. An
        array is answered with one gather and returns an int64 array."""
        items = np.asarray(h, dtype=np.int64)
        cols = self._buckets(self.hash_a[:, None], items.reshape(1, -1))
        est = self.table[np.arange(self.depth)[:, None], cols].min(axis=0)
        return int(est[0]) if items.ndim == 0 else est

    def _check_compatible(self, other: "CountMinSketch", op: str) -> None:
        if (self.depth, self.width) != (other.depth, other.width) or not (
            np.array_equal(self.hash_a, other.hash_a)
        ):
            raise ValueError(f"cannot {op} CMS with different parameters")

    def inner_product(self, other: "CountMinSketch") -> int:
        """Estimate of ``Σ_k f_self(k) · f_other(k)`` — the row count of
        the inner equi-join between the two sketched key columns
        (Cormode–Muthukrishnan §4.2).  Never undershoots; overshoots by
        ≤ eps·N_self·N_other w.p. ≥ 1-delta.  Relational twin:
        ``operators/joinest.py::join_size_estimate``."""
        self._check_compatible(other, "inner-product")
        return int((self.table * other.table).sum(axis=1).min())

    # -- monoid ------------------------------------------------------------
    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._check_compatible(other, "merge")
        return _rebuild_cms(
            self.eps, self.delta, self.seed, self.hash_a,
            self.table + other.table, self.total + other.total,
        )

    def __reduce__(self):  # compact pickling for shuffle/broadcast
        return (
            _rebuild_cms,
            (self.eps, self.delta, self.seed, self.hash_a, self.table, self.total),
        )


def _rebuild_cms(eps, delta, seed, hash_a, table, total):
    cms = CountMinSketch.__new__(CountMinSketch)
    cms.eps, cms.delta, cms.seed, cms.hash_a = eps, delta, seed, hash_a
    cms.depth, cms.width = table.shape
    cms.table, cms.total = table, total
    return cms


def spark_key_expr(key_cols: list[str]):
    """The canonical composite-key Column: NUL-joined string casts.
    Shared by the builder and by hot-key candidate estimation so hashes
    always agree."""
    from pyspark.sql import functions as F

    return F.concat_ws(KEY_SEP, *[F.col(c).cast("string") for c in key_cols])


def key_hash(key_cols: list[str]):
    """The sketch item of a row: ``xxhash64(spark_key_expr(key_cols))``,
    or null when any key column is null (``count_min_sketch`` skips
    nulls, and null keys never equi-match)."""
    from pyspark.sql import functions as F

    present = F.lit(True)
    for c in key_cols:
        present = present & F.col(c).isNotNull()
    return F.when(present, F.xxhash64(spark_key_expr(key_cols)))


def count_min_sketch_agg(col, eps: float = 0.005, delta: float = 1e-8, seed: int = 1):
    """Spark's ``count_min_sketch`` aggregate over an int64 Column, sized
    like ``CountMinSketch(eps, delta, seed)``: Spark derives width
    ``⌈2/eps'⌉`` and depth ``⌈-log2(1-confidence)⌉``, so it is handed the
    values that put both half a step below our width and depth."""
    from pyspark.sql import functions as F

    depth, width = _dims(eps, delta)
    return F.count_min_sketch(col, 2.0 / (width - 0.5), 1.0 - 2.0 ** (0.5 - depth), seed)


def cms_from_dataframe(
    df,
    key_cols: list[str],
    eps: float = 0.005,
    delta: float = 1e-8,
    seed: int = 1,
) -> CountMinSketch:
    """Distributed CMS over the tuple of ``key_cols``: one Spark
    aggregate over the keys' JVM ``xxhash64``, decoded on the driver."""
    blob = df.agg(
        count_min_sketch_agg(key_hash(key_cols), eps, delta, seed)
    ).first()[0]
    # merging into an empty sketch checks Spark drew the same hash_a and
    # keeps the requested eps/delta/seed on the result
    return CountMinSketch(eps, delta, seed).merge(CountMinSketch.from_spark(bytes(blob)))
