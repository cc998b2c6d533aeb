"""Single-pass table profiling and schema-drift detection (the Deequ /
Great-Expectations "profile" half; the constraint half lives in
operators/dq.py).

``profile_table`` computes per-column stats — count, nulls, exact
distincts, numeric min/max/mean, string min/max — in ONE aggregation
job: all columns' aggregates are planned together, so the table is
scanned once regardless of how many columns are profiled (at 100 TB the
scan IS the cost; per-column jobs would multiply it).  The single
wide row is then unpivoted driver-side into per-column rows (the
unpivot touches one row — no second job over the data).

Determinism contract (the registry oracle hash-compares values):
numeric means go through exact DECIMAL sums divided by counts, so the
double result is accumulation-order independent; min/max are exact
values, never formatted through engine-specific float→string casts
(numerics surface in ``min_num/max_num`` DOUBLE columns, strings in
``min_str/max_str``).

``schema_drift`` diffs two profiles: added/removed columns, dtype
changes, null-rate and distinct-count drift beyond thresholds — the
check a warehouse runs between snapshot versions before trusting a
refresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

_DEC = "decimal(30,8)"


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column stats rows: (column, dtype, n, n_null, n_distinct,
    min_num, max_num, mean, min_str, max_str).  One scan for all
    columns; exact distincts (Spark plans the multi-distinct with one
    expand).

    ``df`` is scanned twice, by two keyless aggregates that are
    cross-joined (see below), so it must be a stable source: the same
    rows on every evaluation.  For a non-deterministic or concurrently
    changing input, ``localCheckpoint`` it first, or the two passes
    may see different rows."""
    cols = list(cols) if cols is not None else [f.name for f in df.schema.fields]
    # TWO single-row aggregations instead of one (r15): the multi-
    # distinct rewrite plans count_distinct through an Expand whose
    # per-distinct-key grouping stage carries EVERY sibling aggregate's
    # partial buffer — and the DECIMAL(30,8) mean sums and string
    # min/max buffers are not UnsafeRow-mutable, which knocks the WHOLE
    # chain (Expand → group-by-distinct-cols → partial → final) off
    # HashAggregate onto SortAggregate with two full Sorts of the
    # 6x-expanded input. Keeping the distinct aggregation to
    # long-buffer aggs (counts, null sums, distincts) restores the
    # hash path; the immutable-buffer aggs fold in a separate keyless
    # pass (no grouping key → no sort), and the two 1-row results
    # cross-join. Same expressions over the same rows — values are
    # bit-identical.
    dist_aggs = []
    other_aggs = []
    kinds: dict[str, bool] = {}
    for c in cols:
        dt = df.schema[c].dataType
        numeric = isinstance(dt, _NUMERIC)
        kinds[c] = numeric
        col = F.col(c)
        dist_aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__null"),
            F.count_distinct(col).alias(f"{c}__dist"),
        ]
        if numeric:
            other_aggs += [
                F.min(col).cast("double").alias(f"{c}__min"),
                F.max(col).cast("double").alias(f"{c}__max"),
                F.round(
                    F.sum(col.cast(_DEC)).cast("double")
                    / F.count(col),
                    6,
                ).alias(f"{c}__mean"),
            ]
        else:
            other_aggs += [
                F.min(col.cast("string")).alias(f"{c}__smin"),
                F.max(col.cast("string")).alias(f"{c}__smax"),
            ]
    wide = df.agg(*dist_aggs).crossJoin(df.agg(*other_aggs))
    parts = []
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if kinds[c]:
            parts.append(
                F.struct(
                    F.lit(c).alias("column"), F.lit(dt).alias("dtype"),
                    F.col(f"{c}__n").alias("n"),
                    F.col(f"{c}__null").alias("n_null"),
                    F.col(f"{c}__dist").alias("n_distinct"),
                    F.col(f"{c}__min").alias("min_num"),
                    F.col(f"{c}__max").alias("max_num"),
                    F.col(f"{c}__mean").alias("mean"),
                    F.lit(None).cast("string").alias("min_str"),
                    F.lit(None).cast("string").alias("max_str"),
                )
            )
        else:
            parts.append(
                F.struct(
                    F.lit(c).alias("column"), F.lit(dt).alias("dtype"),
                    F.col(f"{c}__n").alias("n"),
                    F.col(f"{c}__null").alias("n_null"),
                    F.col(f"{c}__dist").alias("n_distinct"),
                    F.lit(None).cast("double").alias("min_num"),
                    F.lit(None).cast("double").alias("max_num"),
                    F.lit(None).cast("double").alias("mean"),
                    F.col(f"{c}__smin").alias("min_str"),
                    F.col(f"{c}__smax").alias("max_str"),
                )
            )
    return wide.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def schema_drift(
    old: DataFrame,
    new: DataFrame,
    cols_old: list[str] | None = None,
    cols_new: list[str] | None = None,
    null_rate_tol: float = 0.05,
    distinct_ratio_tol: float = 0.5,
) -> DataFrame:
    """Drift report between two table versions: one row per detected
    change — ``column_added`` / ``column_removed`` / ``dtype_changed``
    / ``null_rate_drift`` (absolute delta > ``null_rate_tol``) /
    ``distinct_drift`` (relative change > ``distinct_ratio_tol``).
    Costs one profiling scan per side; the diff itself joins two
    ≤#columns-row frames."""
    po = profile_table(old, cols_old).select(
        F.col("column"),
        F.col("dtype").alias("dtype_old"),
        (F.col("n_null") / F.greatest(F.col("n"), F.lit(1))).alias("nr_old"),
        F.col("n_distinct").alias("nd_old"),
    )
    pn = profile_table(new, cols_new).select(
        F.col("column"),
        F.col("dtype").alias("dtype_new"),
        (F.col("n_null") / F.greatest(F.col("n"), F.lit(1))).alias("nr_new"),
        F.col("n_distinct").alias("nd_new"),
    )
    j = po.join(pn, "column", "full_outer")
    # all change types evaluate in ONE pass over the joined profiles —
    # a union of per-change selects would re-execute both profiling
    # scans once per change type (observed 5×: 6.2 s → ~1 s)
    both = F.col("dtype_old").isNotNull() & F.col("dtype_new").isNotNull()

    def chg(cond, name, detail):
        return F.when(
            cond,
            F.struct(F.lit(name).alias("change"), detail.alias("detail")),
        )

    changes = F.array(
        chg(F.col("dtype_old").isNull(), "column_added", F.col("dtype_new")),
        chg(F.col("dtype_new").isNull(), "column_removed", F.col("dtype_old")),
        chg(
            both & (F.col("dtype_old") != F.col("dtype_new")),
            "dtype_changed",
            F.concat(F.col("dtype_old"), F.lit(" -> "), F.col("dtype_new")),
        ),
        chg(
            both & (F.abs(F.col("nr_new") - F.col("nr_old")) > null_rate_tol),
            "null_rate_drift",
            F.concat(
                F.round(F.col("nr_old"), 4).cast("string"), F.lit(" -> "),
                F.round(F.col("nr_new"), 4).cast("string"),
            ),
        ),
        chg(
            both
            & (
                F.abs(F.col("nd_new") - F.col("nd_old"))
                > distinct_ratio_tol * F.greatest(F.col("nd_old"), F.lit(1))
            ),
            "distinct_drift",
            F.concat(
                F.col("nd_old").cast("string"), F.lit(" -> "),
                F.col("nd_new").cast("string"),
            ),
        ),
    )
    return (
        j.select(
            "column",
            F.explode(F.filter(changes, lambda x: x.isNotNull())).alias("c"),
        )
        .select("column", "c.change", "c.detail")
        .orderBy("column", "change")
    )


def ks_drift(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    value_col: str,
    alpha_c: float = 1.36,
) -> DataFrame:
    """Per-key two-sample Kolmogorov–Smirnov drift between two datasets
    (reference vs candidate): D = max over values of |ECDF_a − ECDF_b|,
    computed EXACTLY and fully relationally — per (key, value) counts,
    one cumulative-sum window per side partitioned by key, max of the
    gap.  No sort crosses keys; ties are handled exactly (ECDFs step at
    each DISTINCT value by its full tie count).

    ``drift`` flags D above the classic asymptotic threshold
    ``alpha_c · sqrt((n_a + n_b) / (n_a · n_b))`` (1.36 ≈ α = 0.05).
    Complements the drift family: schema_drift compares aggregates,
    cusum_scan watches a series in time, ks_drift compares whole
    DISTRIBUTIONS between two snapshots/slices.

    Output: (key, n_a, n_b, ks_d, threshold, drift)."""
    ca = (
        a.where(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("k"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("na_v"))
    )
    cb = (
        b.where(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("k"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("nb_v"))
    )
    merged = ca.join(cb, ["k", "v"], "full_outer").select(
        "k", "v",
        F.coalesce("na_v", F.lit(0)).alias("na_v"),
        F.coalesce("nb_v", F.lit(0)).alias("nb_v"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.select(
        "k",
        F.sum("na_v").over(w).alias("ca"),
        F.sum("nb_v").over(w).alias("cb"),
    )
    totals = merged.groupBy("k").agg(
        F.sum("na_v").alias("n_a"), F.sum("nb_v").alias("n_b")
    )
    gaps = cum.join(totals, "k").select(
        "k", "n_a", "n_b",
        F.abs(
            F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b")
        ).alias("gap"),
    )
    thr = F.round(
        F.lit(alpha_c)
        * F.sqrt(
            (F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b"))
        ),
        6,
    )
    return (
        gaps.groupBy("k", "n_a", "n_b")
        .agg(F.round(F.max("gap"), 6).alias("ks_d"))
        .select(
            F.col("k").alias(key_col),
            "n_a", "n_b", "ks_d",
            thr.alias("threshold"),
            (F.col("ks_d") > thr).alias("drift"),
        )
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-key robust outlier detection via the median absolute deviation.

    The robust z-score replaces (mean, stddev) with (median, MAD):
    a point is an outlier when |x − median| > k·MAD (Hampel's rule;
    k≈3 corresponds to ~4.5σ for Gaussian data via the 1.4826
    consistency constant, which we fold into ``k`` rather than the
    MAD).  Unlike mean/σ, the cutoff itself is not dragged by the
    outliers it is trying to find.

    Determinism: medians of doubles interpolate over *sorted* values —
    no accumulation order — so Spark's ``percentile(x, 0.5)`` and an
    oracle's ``quantile_cont`` agree bit-for-bit and the k·MAD
    comparison is engine-stable (displayed median/MAD are rounded to 6
    for the hash; the cutoff uses the raw values).

    Scale shape: two key-partitioned aggregation passes (median, then
    MAD of deviations) and two equi-joins back on the key — no windows,
    no global sort; exact per-key medians at 100 TB are the point where
    you'd swap in Spark's KLL sketch (``kll_sketch_agg_double``) for
    one pass, at a bounded rank-error cost.

    Output: (key, n, median, mad, n_outliers, outlier_frac).
    """
    med = df.groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    dev = df.join(med, key_col).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("__med"))
    )
    madt = dev.groupBy(key_col).agg(
        F.expr("percentile(__dev, 0.5)").alias("__mad")
    )
    return (
        dev.join(madt, key_col)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("__med"), 6).alias("median"),
            F.round(F.first("__mad"), 6).alias("mad"),
            F.sum(
                (F.col("__dev") > F.lit(float(k)) * F.col("__mad")).cast(
                    "bigint"
                )
            ).alias("n_outliers"),
        )
        .withColumn(
            "outlier_frac",
            F.col("n_outliers").cast("double") / F.col("n"),
        )
    )


def psi_drift(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    value_col: str,
    bins: int = 10,
    eps: float = 1e-6,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-key Population Stability Index between a reference ``a`` and
    a candidate ``b`` — the model-monitoring industry's standard drift
    score next to KS: bin the value range, compare bin SHARES:

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    with ``eps``-floored shares so empty bins stay finite.  Bins are
    ``bins`` equal-width intervals over the REFERENCE side's per-key
    [min, max] (the deployed-scorecard convention: the reference fixes
    the grid, candidates clamp into the edge bins), so the whole
    computation is exact relational algebra a SQL oracle replays:
    per-key min/max broadcast back, one groupBy per side, a generated
    bin spine (no bin silently missing), and the PSI fold.

    Rule-of-thumb verdict: < 0.1 stable, 0.1–0.2 moderate, ≥ 0.2
    (default ``threshold``) significant shift.

    Scale shape: two map-side-combined groupBys over (key, bin) + one
    tiny stats join — the corpus never sorts and nothing is collected;
    the spine is |keys| × bins rows.

    Complements the family: schema_drift compares aggregates, cusum a
    series in time, ks_drift whole ECDFs, psi_drift binned shares (the
    one that stays meaningful under heavy ties and reports a
    magnitude, not just a verdict).

    Output: (key, n_a, n_b, psi, drift).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    av = a.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("k"), F.col(value_col).cast("double").alias("v")
    )
    bv = b.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("k"), F.col(value_col).cast("double").alias("v")
    )
    stats = av.groupBy("k").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )

    def binned(side: DataFrame, name: str) -> DataFrame:
        width = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
        bin_ = F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.greatest(
                    F.floor((F.col("v") - F.col("mn")) / width).cast("int"),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ),
        ).otherwise(F.lit(0))
        return (
            side.join(F.broadcast(stats), "k")
            .select("k", bin_.alias("bin"))
            .groupBy("k", "bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    ac = binned(av, "na_bin")
    bc = binned(bv, "nb_bin")
    spine = stats.select(
        "k", F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin")
    )
    counts = (
        spine.join(ac, ["k", "bin"], "left")
        .join(bc, ["k", "bin"], "left")
        .select(
            "k", "bin",
            F.coalesce("na_bin", F.lit(0)).alias("na_bin"),
            F.coalesce("nb_bin", F.lit(0)).alias("nb_bin"),
        )
    )
    totals = counts.groupBy("k").agg(
        F.sum("na_bin").alias("n_a"), F.sum("nb_bin").alias("n_b")
    )
    e = F.lit(float(eps))
    p = F.greatest(F.col("na_bin") / F.col("n_a"), e)
    q = F.greatest(F.col("nb_bin") / F.col("n_b"), e)
    return (
        counts.join(totals, "k")
        .groupBy("k")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        )
        .select(
            F.col("k").alias(key_col), "n_a", "n_b", "psi",
            (F.col("psi") >= F.lit(float(threshold))).alias("drift"),
        )
    )


def weighted_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    weight_col: str,
    qs: list[float] = (0.5, 0.9),
) -> DataFrame:
    """Per-key EXACT weighted quantiles under the inverted-CDF
    definition: the q-quantile is the smallest value whose cumulative
    weight reaches q · total_weight — the estimator a sampling /
    token-budget pipeline needs when rows carry unequal mass (docs
    weighted by token count, orders by quantity) and "the median
    document" must mean the median TOKEN, not the median row.  No
    interpolation → deterministic and byte-replayable in SQL.

    Shape: weights collapse onto distinct (key, value) first (ties
    merged map-side), ONE cumulative window per key over that distinct
    set, then every requested q reads off the same cumulative column —
    the per-key sort cost is paid once regardless of len(qs).

    Output: (key, q, value, total_weight), one row per key × q.
    """
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError("each q must be in (0, 1]")
    vals = (
        df.where(F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())
        .groupBy(F.col(key_col).alias("__k"), F.col(value_col).alias("__v"))
        .agg(F.sum(F.col(weight_col).cast("double")).alias("__w"))
    )
    wspec = (
        Window.partitionBy("__k")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.select(
        "__k", "__v",
        F.sum("__w").over(wspec).alias("__cw"),
        F.sum("__w").over(Window.partitionBy("__k")).alias("__tw"),
    )
    # all requested quantiles read off the cumulative column in ONE
    # aggregation (a per-q filter+union would re-run the window per q)
    aggs = [
        F.min(
            F.when(F.col("__cw") >= F.lit(float(q)) * F.col("__tw"),
                   F.col("__v"))
        ).alias(f"__q{i}")
        for i, q in enumerate(qs)
    ] + [F.round(F.max("__tw"), 6).alias("total_weight")]
    one = cum.groupBy("__k").agg(*aggs)
    stacked = one.select(
        "__k", "total_weight",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(float(q)).alias("q"),
                    F.col(f"__q{i}").alias("value"),
                )
                for i, q in enumerate(qs)
            ])
        ).alias("__s"),
    )
    return stacked.select(
        F.col("__k").alias(key_col), F.col("__s.q").alias("q"),
        F.col("__s.value").alias("value"), "total_weight",
    )
