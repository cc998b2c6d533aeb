"""Mergeable sketches as streaming state: HLL distincts, Misra-Gries
heavy hitters, KMV theta sketches and CMS hot keys per key.

The properties that make a sketch scale across partitions are exactly
what a stream needs across TIME: state that never grows with event
volume, order-insensitive folds (no reorder buffer), and estimates with
known error bounds.

* ``streaming_distinct`` — per-key distinct-value estimate: a plain
  update-mode streaming aggregation with Spark's DataSketches
  ``hll_sketch_agg`` as its state (3-sigma error
  ``sketch.bounds.hll_error(lg_config_k)``, 2.44% at lgConfigK=14).
* ``streaming_heavy_hitters`` — per-key Misra-Gries top items: lower-
  bound counts that underestimate truth by at most the accumulated
  subtraction error ``err`` (emitted alongside), with the classic
  guarantee that any item with true share > 1/k is present in the
  summary.  Unlike the batch operator (heavy.py), a stream cannot run
  the exact verify pass — the emitted counts are the (bounded-error)
  summary itself, which is the standard streaming trade.
* ``streaming_theta`` — per-key DataSketches theta sketch
  (``theta_sketch_agg``) whose compact bytes are part of every
  emission: a consumer can feed two keys' sketches to
  ``theta_intersection`` / ``theta_difference`` / ``theta_union`` for
  set operations between live audiences, or union them with sketches
  built in batch over the same items.
* ``streaming_hot_keys`` — the batch ``skew_join`` CMS, sharded, as
  grouped state.

Values of a type the DataSketches aggregates do not take (anything but
INT/BIGINT/STRING/BINARY) are sketched as their canonical xxhash64
(``sketch.cms.key_hash``); null values are skipped.

Event-time semantics are the caller's concern (watermark upstream if
needed); all folds are order-insensitive.
"""

from __future__ import annotations

import pickle

from pyspark.sql import Column, DataFrame, functions as F

from ..sketch.cms import key_hash

_ITEM_TYPES = ("int", "bigint", "string", "binary")


def _item(events: DataFrame, value_col: str) -> Column:
    """The sketch item for ``value_col``: the column itself when the HLL
    and theta aggregates take its type, else its canonical xxhash64."""
    if events.schema[value_col].dataType.simpleString() in _ITEM_TYPES:
        return F.col(value_col)
    return key_hash([value_col])


def streaming_distinct(
    events: DataFrame,
    key_col: str,
    value_col: str,
    lg_config_k: int = 14,
) -> DataFrame:
    """(key, n_events, distinct_est) per key, re-emitted each
    micro-batch the key appears in (run it in ``update`` mode)."""
    return events.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(_item(events, value_col), lg_config_k)
        ).cast("double").alias("distinct_est"),
    )


def streaming_heavy_hitters(
    events: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
    emit_top: int = 10,
) -> DataFrame:
    """Per-key Misra-Gries summary, one row per retained item:
    (key, item, count_lb, err, n_events) — ``count_lb`` ≤ true count ≤
    ``count_lb + err``; any item with true count > n_events/k is
    guaranteed present.  ``emit_top`` caps rows emitted per trigger
    (largest counters first; the STATE keeps all ≤ k)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = events.schema[key_col].dataType.simpleString()
    val_type = events.schema[value_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, item {val_type}, count_lb bigint, "
        "err bigint, n_events bigint"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            n, err, blob = state.get
            counts = pickle.loads(blob)
        else:
            n, err, counts = 0, 0, {}
        for pdf in pdfs:
            n += len(pdf)
            vc = pdf[value_col].value_counts()
            for item, c in zip(vc.index, vc.to_numpy()):
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > 4 * k:
                sub = sorted(counts.values(), reverse=True)[k]
                err += sub
                counts = {i: c - sub for i, c in counts.items() if c > sub}
        if len(counts) > k:
            sub = sorted(counts.values(), reverse=True)[k]
            err += sub
            counts = {i: c - sub for i, c in counts.items() if c > sub}
        state.update((n, err, pickle.dumps(counts)))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], str(kv[0])))
        top = top[:emit_top]
        yield pd.DataFrame({
            key_col: [key[0]] * len(top),
            "item": [i for i, _ in top],
            "count_lb": [c for _, c in top],
            "err": [err] * len(top),
            "n_events": [n] * len(top),
        })

    return events.select(key_col, value_col).groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n bigint, err bigint, counts binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_theta(
    events: DataFrame,
    key_col: str,
    value_col: str,
    lg_nom_entries: int = 10,
) -> DataFrame:
    """(key, n_events, distinct_est, sketch) per key, re-emitted each
    micro-batch the key appears in (run it in ``update`` mode).
    ``sketch`` is the DataSketches compact theta sketch (k =
    2^lg_nom_entries, 3-sigma error ``sketch.bounds.theta_error``):
    combine it with Spark's ``theta_union`` / ``theta_intersection`` /
    ``theta_difference`` across keys or against batch-built sketches."""
    sketch = F.theta_sketch_agg(_item(events, value_col), lg_nom_entries)
    return events.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.theta_sketch_estimate(sketch).cast("double").alias("distinct_est"),
        sketch.alias("sketch"),
    )


def streaming_hot_keys(
    events: DataFrame,
    key_cols: list[str],
    hot_threshold: int,
    n_shards: int = 8,
    eps: float = 0.005,
    delta: float = 1e-8,
    seed: int = 1,
    max_hot_keys: int = 10_000,
    emit_top: int = 100,
) -> DataFrame:
    """Hot-join-key detection ON A STREAM with the exact CMS the batch
    ``skew_join`` builds (sketch/cms.py) — the missing half of running
    a skewed join inside a long-lived pipeline: keys heat up over
    hours, and the decision to salt must come from accumulated
    frequency, not one micro-batch.

    Keys are canonicalized and hashed JVM-side with the SAME
    ``spark_key_expr``/xxhash64 path as the batch builder, sharded by
    ``pmod(hash, n_shards)`` (each key always lands on one shard; rows
    with a null key column are skipped, as in the batch builder), and
    each shard folds ONE CMS + a bounded hot-candidate map as grouped
    state.  A key enters the hot map when a trigger sees it and its
    accumulated CMS estimate crosses ``hot_threshold`` (estimates only
    grow, so membership is monotone; the estimate shown is as-of the
    key's last appearance).  Per trigger each shard emits one SUMMARY
    row (key NULL, ``sketch`` = pickled CMS) plus its top ``emit_top``
    hot keys (``sketch`` NULL).  Shard sketches are plain CMS monoids:
    merging all shards' blobs equals the one-shot batch
    ``cms_from_dataframe`` over the same rows BIT-FOR-BIT (binning is
    linear), so stream state composes with offline sketches and can be
    handed straight to ``SkewJoinConf``-driven planning.

    State per shard is bounded: one (depth × width) table + ≤
    ``max_hot_keys`` candidates — independent of stream length."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..sketch.cms import CountMinSketch, spark_key_expr

    hashed = events.select(
        spark_key_expr(key_cols).alias("__k"), key_hash(key_cols).alias("__h")
    ).where(F.col("__h").isNotNull()).withColumn(
        "__shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int")
    )

    out_schema = (
        "shard int, key string, est_freq bigint, n_events bigint, "
        "sketch binary"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            n, cms_blob, hot_blob = state.get
            cms = pickle.loads(cms_blob)
            hot = pickle.loads(hot_blob)
        else:
            n, cms, hot = 0, CountMinSketch(eps, delta, seed), {}
        seen = []
        for pdf in pdfs:
            n += len(pdf)
            cms.add_hashed(pdf["__h"].to_numpy())
            seen.append(pdf[["__k", "__h"]].drop_duplicates("__k"))
        if seen:
            trig = pd.concat(seen).drop_duplicates("__k")
            est = cms.estimate_hashed(trig["__h"].to_numpy())
            is_hot = est >= hot_threshold
            hot.update(zip(trig["__k"][is_hot], est[is_hot].tolist()))
        if len(hot) > max_hot_keys:
            hot = dict(
                sorted(hot.items(), key=lambda kv: (-kv[1], kv[0]))[:max_hot_keys]
            )
        state.update((n, pickle.dumps(cms), pickle.dumps(hot)))
        shard = int(key[0])
        top = sorted(hot.items(), key=lambda kv: (-kv[1], kv[0]))[:emit_top]
        yield pd.DataFrame({
            "shard": [shard] * (1 + len(top)),
            "key": [None] + [k for k, _ in top],
            "est_freq": pd.array(
                [None] + [e for _, e in top], dtype="Int64"
            ),
            "n_events": [n] * (1 + len(top)),
            "sketch": [pickle.dumps(cms)] + [None] * len(top),
        })

    return hashed.groupBy("__shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n bigint, cms binary, hot binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
