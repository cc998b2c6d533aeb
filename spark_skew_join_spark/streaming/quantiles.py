"""Streaming per-key quantile tracking: a KLL sketch as aggregation state.

Each key's state is one DataSketches KLL sketch (Spark's
``kll_sketch_agg_double``; O(k) items regardless of stream length),
kept by a plain update-mode streaming aggregation and queried for the
requested quantiles on each update.  This is what the mergeable-summary
design buys in a stream: per-key distributional state that never grows
with event volume — the property that lets the sketch merge across
partitions, applied across TIME.

Estimates are within the sketch's normalized rank error
(``sketch.bounds.kll_rank_error(k, delta)``; the build is unseeded, so
the bound holds with probability 1 - delta per sketch); the parity test
pins the final streamed estimates against exact per-key quantiles of
the full feed.

Event-time semantics are the caller's concern (add a watermark upstream
if late data must be bounded); the sketch itself is order-insensitive,
so out-of-order delivery does NOT change the estimate distribution —
unlike the funnel, no reorder buffer is needed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def streaming_quantiles(
    events: DataFrame,
    key_col: str,
    value_col: str,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    k: int = 200,
) -> DataFrame:
    """(key, n, q_<pct>...) per key, re-emitted every micro-batch the
    key appears in (run it in ``update`` mode).  ``quantiles`` become
    columns named q_50, q_90, ... (percent, trailing zeros trimmed by
    int cast where exact); ``n`` counts the non-null, non-NaN values,
    and a key with none has NaN quantiles."""
    if not quantiles:
        raise ValueError("streaming_quantiles: need at least one quantile")
    names = [f"q_{int(q * 100)}" for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError("quantiles collide at integer-percent names")
    sketch = F.kll_sketch_agg_double(F.col(value_col).cast("double"), k)
    n = F.kll_sketch_get_n_double(sketch)
    return events.groupBy(key_col).agg(
        n.alias("n"),
        *[
            F.when(n > 0, F.kll_sketch_get_quantile_double(sketch, F.lit(q)))
            .otherwise(F.lit(float("nan"))).alias(c)
            for c, q in zip(names, quantiles)
        ],
    )
