"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

Lakehouse table maintenance at 100 TB lives or dies on scan pruning:
min/max file statistics only prune when the data is clustered on the
filter columns. A linear sort clusters ONE column; Z-ordering
interleaves the bits of several, so files become axis-aligned
hyper-rectangles and predicates on ANY of the interleaved columns prune
(the technique behind Delta/Iceberg OPTIMIZE ZORDER BY).

Spark shape: the z-value is a pure codegen expression (two rank
normalizations + 2·bits shift/mask/or terms — no UDF, no Python), so
``df.repartitionByRange(n, zvalue).sortWithinPartitions(zvalue)
.write...`` lays files out in z-order with one range shuffle, exactly
like a plain sort-write. Rank normalization maps each column to
[0, 2^bits) distribution-free (equal-width quantization collapses
under skew) and comes in two flavors:

* ``quantizer="approx"`` (DEFAULT, the scale path — VERDICT r5 #2):
  per-column sampled-quantile maps from Spark's DataSketches KLL
  sketch (``kll_sketch_agg_double`` — ONE aggregate job builds every
  column's sketch and reads its boundaries with
  ``kll_sketch_get_quantile_double``), then an UNROLLED BINARY SEARCH over
  the 2^map_bits−1 boundary array — ``map_bits`` ``element_at``
  comparisons per row against a constant array, pure codegen, no
  window, no extra shuffle. Rank granularity is 2^map_bits levels
  (scaled up to the 2^bits domain by a left shift), which is exactly
  the resolution a sampled map can honestly claim; the KLL rank-error
  bound (1.33% at k=200, 99% confidence) bounds how far any boundary
  sits from its true quantile. Layout quality is statistically
  indistinguishable (tests/test_redact_layout.py pins the locality
  equivalence). The KLL sketch is unseeded, so the boundaries, and
  with them the keys, are fixed within one call (they are collected
  once and embedded as literals) but may differ between two calls on
  the same data.
* ``quantizer="exact"``: percent_rank over an UNPARTITIONED window —
  bit-reproducible in ANSI SQL (the DuckDB oracle for
  zorder_layout_orders), but the global window serializes the table
  through one partition, so it is the ORACLE path only, never the
  default.

For write paths where the caller already has quantized ints,
``zvalue_fixed`` interleaves them directly.

The bit arithmetic is engine-portable (shifts/and/or on BIGINT), so the
clustering keys and the per-bucket locality statistics are
oracle-checked against DuckDB bit-for-bit on the exact path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "zvalue_fixed", "zorder_key", "zorder_bucket_stats",
    "hilbert_fixed", "hilbert_key", "hilbert_bucket_stats",
]


def zvalue_fixed(cols: list[Column], bits: int = 16) -> Column:
    """Morton interleave of pre-quantized non-negative ints (each assumed
    < 2^bits): bit i of column j lands at output bit i*ncols + j. Pure
    shift/mask/or codegen — 2·bits·ncols terms."""
    ncols = len(cols)
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        cl = c.cast("bigint")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * ncols + j)
            )
    return z


def _approx_bucket(col: Column, boundaries: list[float], map_bits: int) -> Column:
    """JVM-side binary search: bucket(v) = #{boundaries <= v}, as an
    ``aggregate`` HOF fold over the ``map_bits`` probe widths —
    O(log B) element_at comparisons per row at RUNTIME with an O(1)
    expression tree (a hand-unrolled when-chain doubles the Catalyst
    tree per step: 2^map_bits copies of the boundary literal OOMs the
    driver during analysis). No window, no join, no Python."""
    m = 1 << map_bits
    # pad to length m so every probe index is in range; +inf sentinel
    # entries never satisfy "<= v" for finite v
    padded = list(boundaries) + [math.inf] * (m - len(boundaries))
    arr = F.lit(padded)
    v = col.cast("double")
    steps = F.lit([1 << s for s in range(map_bits - 1, -1, -1)])
    idx = F.aggregate(
        steps,
        F.lit(0).cast("bigint"),
        lambda acc, step: F.when(
            F.element_at(arr, (acc + step).cast("int")) <= v, acc + step
        ).otherwise(acc),
    )
    return F.least(idx, F.lit(m - 1)).cast("bigint")


def _rank_quantized(df: DataFrame, cols: list[str], bits: int,
                    quantizer: str, map_bits: int,
                    sketch_k: int) -> list[Column]:
    """Each of ``cols`` mapped by rank to [0, 2^bits): ``exact`` by
    percent_rank over an unpartitioned window, ``approx`` by a binary
    search over KLL boundaries that one aggregate job collects."""
    if quantizer not in ("approx", "exact"):
        raise ValueError("quantizer must be 'approx' or 'exact'")
    if quantizer == "exact":
        return [
            F.least(
                F.floor(
                    F.percent_rank().over(Window.orderBy(F.col(c))) * (1 << bits)
                ).cast("bigint"),
                F.lit((1 << bits) - 1),
            )
            for c in cols
        ]
    map_bits = min(map_bits, bits)
    m = 1 << map_bits
    ranks = F.lit([j / m for j in range(1, m)])
    bnds = df.agg(*[
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double(F.col(c).cast("double"), sketch_k), ranks
        )
        for c in cols
    ]).first()
    return [
        F.shiftleft(_approx_bucket(F.col(c), list(b), map_bits), bits - map_bits)
        for c, b in zip(cols, bnds)
    ]


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "zval",
    quantizer: str = "approx",
    map_bits: int = 12,
    sketch_k: int = 200,
) -> DataFrame:
    """Adds a rank-normalized z-order clustering key over ``cols``.

    Each column is mapped to [0, 2^bits) by rank (distribution-free),
    then Morton-interleaved. ``quantizer="approx"`` (default) uses
    per-column KLL sampled-quantile maps + codegen binary search — no
    global window, scale-safe; its keys are reproducible only within
    one call, since the unseeded KLL build may pick other boundaries the
    next time. ``quantizer="exact"`` uses percent_rank over an
    unpartitioned window: reproducible across calls and ANSI-reproducible
    for oracles, but it serializes the table through one partition —
    never use it at scale.
    """
    qs = _rank_quantized(df, cols, bits, quantizer, map_bits, sketch_k)
    tmp = df.withColumns({f"__zq{i}": q for i, q in enumerate(qs)})
    z = zvalue_fixed([F.col(f"__zq{i}") for i in range(len(cols))], bits)
    return tmp.withColumn(out_col, z).drop(*[f"__zq{i}" for i in range(len(cols))])


def hilbert_fixed(df: DataFrame, x_col: str, y_col: str, bits: int,
                  out_col: str = "hval") -> DataFrame:
    """2-D Hilbert-curve index of pre-quantized ints in [0, 2^bits).

    The Hilbert curve dominates Morton for locality (no Z-shape jumps:
    successive indices are always grid-adjacent, so bucket ranges on
    both axes are tighter at the same bit budget — the curve behind
    e.g. Delta Lake's HILBERT clustering option).  Standard iterative
    xy→d walk (the Wikipedia/Warren formulation), one step per bit from
    the top: accumulate the quadrant, then reflect+swap the frame when
    entering a bottom quadrant.

    Each step is materialized as ITS OWN projection over named columns
    — the naive single-expression form references the running (x, y)
    2-3× per step and doubles the Catalyst tree per bit.  All integer
    shift/xor/case codegen, engine-portable: the SQL oracle unrolls the
    identical steps as chained CTEs.
    """
    tmp = df.withColumns({
        "__px": F.col(x_col).cast("bigint"),
        "__py": F.col(y_col).cast("bigint"),
        "__pd": F.lit(0).cast("bigint"),
    })
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        tmp = tmp.withColumns({
            "__rx": F.shiftright("__px", i).bitwiseAND(F.lit(1)),
            "__ry": F.shiftright("__py", i).bitwiseAND(F.lit(1)),
        })
        refl_x = F.when(F.col("__rx") == 1, F.lit(s - 1) - F.col("__px")
                        ).otherwise(F.col("__px"))
        refl_y = F.when(F.col("__rx") == 1, F.lit(s - 1) - F.col("__py")
                        ).otherwise(F.col("__py"))
        tmp = tmp.withColumns({
            "__pd": F.col("__pd")
            + F.lit(s) * F.lit(s)
            * (F.lit(3) * F.col("__rx")).bitwiseXOR(F.col("__ry")),
            # entering a bottom quadrant (ry=0): reflect if rx=1, then
            # swap axes; top quadrants keep the frame
            "__px": F.when(F.col("__ry") == 0, refl_y).otherwise(F.col("__px")),
            "__py": F.when(F.col("__ry") == 0, refl_x).otherwise(F.col("__py")),
        })
    return tmp.withColumn(out_col, F.col("__pd")).drop(
        "__px", "__py", "__pd", "__rx", "__ry"
    )


def hilbert_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "hval",
    quantizer: str = "approx",
    map_bits: int = 12,
    sketch_k: int = 200,
) -> DataFrame:
    """Adds a rank-normalized 2-D Hilbert clustering key over ``cols``
    — same quantizers and contract as ``zorder_key`` (approx = KLL
    sampled-quantile map, the scale default; exact = unpartitioned
    percent_rank, oracle-only), with the Morton interleave replaced by
    the Hilbert walk. Approx keys are reproducible only within one call
    (unseeded KLL); ``quantizer="exact"`` is the reproducible path."""
    if len(cols) != 2:
        raise ValueError("hilbert_key supports exactly 2 columns")
    qs = _rank_quantized(df, cols, bits, quantizer, map_bits, sketch_k)
    tmp = df.withColumns({f"__hq{i}": q for i, q in enumerate(qs)})
    out = hilbert_fixed(tmp, "__hq0", "__hq1", bits, out_col)
    return out.drop("__hq0", "__hq1")


def hilbert_bucket_stats(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    bucket_bits: int = 5,
    quantizer: str = "approx",
) -> DataFrame:
    """Per-bucket min/max locality statistics for a Hilbert layout —
    same evidence shape as ``zorder_bucket_stats`` (the d-value range a
    sorted write would put in one file), comparable side by side."""
    total_bits = bits * len(cols)
    keyed = hilbert_key(df, cols, bits, quantizer=quantizer)
    bucket = F.shiftright(F.col("hval"), total_bits - bucket_bits).cast("int")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return keyed.groupBy(bucket.alias("bucket")).agg(*aggs)


def zorder_bucket_stats(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    bucket_bits: int = 5,
    quantizer: str = "approx",
) -> DataFrame:
    """Locality evidence for a z-order layout: bucket rows by the top
    ``bucket_bits`` of the z-value (= the file a sorted write would put
    them in) and report per-bucket min/max of each interleaved column —
    the exact statistics a lakehouse reader would prune on. Narrow
    per-bucket ranges on EVERY column is the z-order win; a plain sort
    gives narrow ranges on the leading column only."""
    total_bits = bits * len(cols)
    keyed = zorder_key(df, cols, bits, quantizer=quantizer)
    bucket = F.shiftright(F.col("zval"), total_bits - bucket_bits).cast("int")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        keyed.groupBy(bucket.alias("bucket"))
        .agg(*aggs)
    )


def range_split_points(
    df: DataFrame,
    col: str,
    n_partitions: int,
) -> DataFrame:
    """Equi-height range-partition boundaries for ``col``: the EXACT
    (n_partitions − 1) interior percentiles that split the data into
    partitions of equal row count — what a 100 TB sorted write / range
    layout plans with BEFORE shuffling anything (Spark's own
    repartitionByRange samples; this is the exact, auditable version
    for when partition balance is a contract, e.g. shard manifests).

    One aggregation pass: ``percentile(col, array(1/n .. (n-1)/n))``
    (exact sort-based interpolation, engine-stable) plus min/max and
    the row count, exploded to one row per boundary.  Replays in SQL
    via quantile_cont.

    Output: (split_idx, lower_pct, boundary) for idx 1..n-1, where
    boundary = the exact percentile at idx/n, rounded to 6.
    """
    if n_partitions < 2:
        raise ValueError("n_partitions must be >= 2")
    qs = [i / n_partitions for i in range(1, n_partitions)]
    qlit = ", ".join(repr(q) for q in qs)
    agg = df.where(F.col(col).isNotNull()).agg(
        F.expr(f"percentile({col}, array({qlit}))").alias("bs")
    )
    return agg.select(
        F.posexplode("bs").alias("i", "b")
    ).select(
        (F.col("i") + 1).cast("int").alias("split_idx"),
        F.round((F.col("i") + 1) / F.lit(float(n_partitions)), 6)
        .alias("lower_pct"),
        F.round("b", 6).alias("boundary"),
    )
