"""Trainable model-based quality classifier: hashed n-grams + logistic GD.

Every modern pretrain pipeline puts a LEARNED quality filter next to the
heuristic ones (CCNet's fastText LM filter, GPT-3's WebText-vs-CommonCrawl
logistic regression over hashed features, FineWeb-Edu's educational-value
classifier). This module is that stage, Spark-native: hashed word-unigram
features (the fastText / Vowpal-Wabbit hashing trick, Weinberger et al.
ICML'09) and full-batch logistic-regression gradient descent with a FIXED
iteration count and zero initialization, so training is deterministic and
SQL-replayable as an unrolled CTE chain (the holt_winters / pagerank
unrolled-recurrence precedent).

Why not MLlib: `pyspark.ml` LogisticRegression is LBFGS behind a JVM
barrier — per-run nondeterministic iteration counts, not oracle-checkable.
The point here is a *certifiable* trainer whose every arithmetic step an
external engine can replay.

Scale shape (100 TB corpus):
* Feature build: one explode over tokens, ONE (id, bucket) count with
  map-side combine, one groupBy(id) into a doc-major sparse map — tokens
  never shuffle as strings (md5→int bucket first). Persisted once.
* Per GD iteration: the margin is a per-row fold over the doc's feature
  map against a BROADCAST weights literal (no shuffle), and the gradient
  is explode → groupBy(bucket) where bucket has D+1 values — partial
  aggregation reduces every task's contribution to ≤ D+1 rows, so each
  iteration moves O(D × tasks) bytes regardless of corpus size.
* Driver state is the (D+1)-float weight vector — never per-doc data.

No reference-repo counterpart (anish749/spark-skew-join is a join
utility); this belongs to the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DRIVER_TRAIN_MAX_BYTES = 32 << 20
"""Driver-side GD fast-path gate (r15, guide §1.2/§4 — VERDICT r14
next-round #1): when the labeled feature relation's estimated
in-memory size fits this budget, training + scoring run as ONE collect
plus a numpy replay of the IDENTICAL recurrence instead of 1 count +
``iters`` gradient collects + a relational scoring pass — at sf0.1
those are ~8 sequential Spark actions whose measured cost is per-action
scheduling/stage overhead, not data work. 32 MiB is the scale of a
large production broadcast relation (and the driver holds ONE copy —
no executor copies, unlike a broadcast), <0.5% of the configured 8g
driver heap, and far under spark.driver.maxResultSize (1g): a corpus
that matters at 100 TB exceeds it by orders of magnitude and takes the
relational loop (the ``train_bpe(mode="driver", max_vocab_words=...)``
guarded-driver-mode precedent). The numpy recurrence is the same one
tests/test_classifier.py::test_gd_matches_numpy_reference has always
pinned against the relational loop (<1e-9 after 6 iterations); rounded
round-6 outputs are pinned EXACTLY equal between the two paths in
tests/test_driver_train.py."""


def _round6_half_up(x: float) -> float:
    """Spark's ROUND(double, 6) exactly: Catalyst rounds doubles via
    BigDecimal(Double.toString(x)).setScale(6, HALF_UP); Python's
    repr() is the same shortest round-trip decimal, so
    Decimal(repr(x)) reproduces it (pinned against F.round in
    tests/test_driver_train.py::test_round6_matches_spark_round)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _train_score_local(
    ids, fmaps, y, n_buckets: int, iters: int, lr: float
) -> list[tuple]:
    """numpy replay of train_logistic + sigmoid scoring over the
    collected (id, y, fmap) rows; returns [(id, y, score, pred), ...]
    sorted by id — the identical recurrence the relational loop runs
    (and the oracle unrolls), with round-6 HALF_UP scoring."""
    import numpy as np

    n = len(ids)
    d1 = n_buckets + 1
    X = np.zeros((n, d1), dtype=np.float64)
    for i, fmap in enumerate(fmaps):
        items = fmap.items() if hasattr(fmap, "items") else fmap
        for k, v in items:
            X[i, k] = v
    yv = np.asarray(y, dtype=np.float64)
    w = np.zeros(d1, dtype=np.float64)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w -= lr * (X.T @ (p - yv)) / n
    score = 1.0 / (1.0 + np.exp(-(X @ w)))
    out = []
    for i in range(n):
        s = _round6_half_up(float(score[i]))
        out.append((ids[i], int(yv[i]), s, int(s >= 0.5)))
    out.sort(key=lambda r: r[0])
    return out


def hashed_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Doc-major sparse feature maps via the hashing trick.

    Tokens are whitespace-split, bucketed by the first 8 hex chars of
    md5(token) mod ``n_buckets`` (SQL-replayable — the SimHash/HLL
    md5-compat precedent), and tf-normalized (count / doc token count)
    so long documents don't dominate the gradient. Bucket
    ``n_buckets`` is the bias feature, x = 1.0 for every doc.

    Output: (id_col, fmap map<int,double>, n_tok). Empty-text docs are
    dropped (no tokens → no features → undefined tf).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    from ..sources.tables import fan_out_narrow

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = fan_out_narrow(
        docs.select(F.col(id_col), toks.alias("__tk")).where(F.size(toks) > 0)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("__t")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    tf = (
        base.select(id_col, F.explode("__tk").alias("__t"))
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("c").alias("n_tok"),
        F.collect_list(F.struct("bucket", "c")).alias("__e"),
    )
    fmap = F.map_from_entries(
        F.concat(
            F.transform(
                "__e",
                lambda e: F.struct(
                    e["bucket"].cast("int").alias("key"),
                    (e["c"].cast("double") / F.col("n_tok")).alias("value"),
                ),
            ),
            F.array(
                F.struct(
                    F.lit(n_buckets).cast("int").alias("key"),
                    F.lit(1.0).alias("value"),
                )
            ),
        )
    )
    return per_doc.select(id_col, fmap.alias("fmap"), "n_tok")


def _margin(weights: list[float]) -> "F.Column":
    """Sparse dot product of a doc's fmap with a literal weight vector."""
    w_arr = F.array(*[F.lit(float(w)) for w in weights])
    return F.aggregate(
        F.map_entries("fmap"),
        F.lit(0.0),
        lambda acc, e: acc + e["value"] * F.element_at(w_arr, e["key"] + 1),
    )


def _margin_col() -> "F.Column":
    """Same fold as ``_margin`` but against a ``__w array<double>``
    COLUMN (the 1-row broadcast weights relation). Fold order and
    arithmetic are identical to the literal form — only where the
    weights come from changes — so results are bit-equal; the payoff is
    that the generated code no longer embeds the weight values, i.e.
    every GD iteration and the final scoring compile to the SAME
    whole-stage-codegen class and hit the janino cache instead of
    recompiling per iteration (the langid ``_weights_rel`` insight,
    guide §1.2 per-task work)."""
    return F.aggregate(
        F.map_entries("fmap"),
        F.lit(0.0),
        lambda acc, e: acc + e["value"] * F.element_at(F.col("__w"), e["key"] + 1),
    )


def _weights_1row(spark, weights: list[float]) -> DataFrame:
    """The weight vector as a 1-row (__w array<double>) relation —
    crossJoin(broadcast(...)) attaches it to every doc row as a scalar
    BroadcastNestedLoopJoin (the SCALAR_BNL_OK precedent)."""
    return spark.createDataFrame(
        [([float(w) for w in weights],)], "__w array<double>"
    )


def train_logistic(
    feats: DataFrame,
    label_col: str = "y",
    n_buckets: int = 64,
    iters: int = 6,
    lr: float = 2.0,
    cache: bool = True,
) -> list[float]:
    """Full-batch GD on logistic loss; returns the (D+1) weight vector.

    w_{t+1}[b] = w_t[b] - lr/n * Σ_docs (σ(x·w_t) - y) x[b], w_0 = 0,
    ``iters`` fixed — every step is a pure function of the data, so a
    DuckDB CTE chain replays it bit-for-near-bit (float sum order is
    the only divergence, ~1e-14 after 6 iterations; outputs round to
    6 dp like every float query in the registry).

    Each iteration is ONE Spark job: margin fold (no shuffle) →
    explode fmap → groupBy(bucket) partial-agg (D+1 groups) → collect
    D+1 rows. Driver holds only the weight vector. The weights enter
    each iteration as a 1-row broadcast relation (``_weights_1row``)
    rather than literals, so all iterations share one compiled plan.

    ``cache=False`` skips the internal persist — pass it when ``feats``
    is already cached by the caller (quality_classifier's shared
    relation) so the projection isn't double-persisted.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    d = feats.select(feats.columns[0], label_col, "fmap")
    if cache:
        d = d.persist()
    try:
        n = d.count()
        if n == 0:
            raise ValueError("no training documents (all empty?)")
        spark = feats.sparkSession
        weights = [0.0] * (n_buckets + 1)
        for _ in range(iters):
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin_col()))
            grad_rows = (
                d.crossJoin(F.broadcast(_weights_1row(spark, weights)))
                .select(
                    (p - F.col(label_col).cast("double")).alias("__r"), "fmap"
                )
                .select("__r", F.explode("fmap").alias("bucket", "x"))
                .groupBy("bucket")
                .agg(F.sum(F.col("__r") * F.col("x")).alias("g"))
                .collect()
            )
            for row in grad_rows:
                weights[row["bucket"]] -= lr * row["g"] / n
    finally:
        if cache:
            d.unpersist()
    return weights


def score_logistic(
    feats: DataFrame, weights: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """Score docs with a trained weight vector.

    Output: (id_col, score) with score = σ(x·w) rounded to 6 dp; the
    0.5 decision threshold is applied to the ROUNDED score downstream
    so engine and oracle agree whenever their rounded scores do.
    """
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(weights)))
    return feats.select(id_col, F.round(p, 6).alias("score"))


def quality_classifier(
    docs: DataFrame,
    label: "F.Column",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    iters: int = 6,
    lr: float = 2.0,
    driver_train_max_bytes: int | None = None,
) -> DataFrame:
    """Train on weak labels, score every doc.

    ``label`` is any boolean/0-1 column expression over ``docs`` (the
    weak-label idiom: source allowlists, metadata language tags, a
    Gopher verdict). Output one row per non-empty doc:
    (id_col, y int, score double[6dp], pred int) ordered by id.

    r14 shape: ONE session-cached (id, __y, fmap) relation feeds
    training, scoring, and the label column — previously train_logistic
    persisted a private projection (released before consumption) and the
    final self-join re-derived hashed_features twice at consumption
    (guide §5 persist-when-reused; §2.4 remove shuffles outright — the
    y/score self-join is gone: both come off the same cached row).
    Cache ownership sits in the dedup session-cache ledger (freed by a
    scoped release_entries or clear_band_cache)."""
    from .dedup import _session_cache

    feats = hashed_features(docs, id_col, text_col, n_buckets)
    # "ckpt": consumed by the count, all GD iterations, and scoring —
    # the eager checkpoint truncates the tokenize/hash/join lineage so
    # each of those actions analyzes a LogicalRDD leaf instead of the
    # full tree (training is eager, so the job stays in timed regions)
    labeled = _session_cache(
        feats.join(
            docs.select(id_col, label.cast("double").alias("__y")), id_col
        ).select(id_col, "__y", "fmap"),
        mode="ckpt",
    )
    # r15 driver fast path (DRIVER_TRAIN_MAX_BYTES doc): when the
    # labeled relation provably fits the driver budget — rows x a
    # conservative doc-major bound (12 B per possible map entry + id/y
    # overhead) — collect it ONCE and replay the identical recurrence
    # in numpy; the relational loop below is the at-scale path. The
    # count is one cheap action over the just-checkpointed relation.
    if driver_train_max_bytes is None:
        driver_train_max_bytes = DRIVER_TRAIN_MAX_BYTES
    n = labeled.count()
    if n == 0:
        raise ValueError("no training documents (all empty?)")
    est = n * ((n_buckets + 1) * 12 + 16)
    if driver_train_max_bytes and est <= driver_train_max_bytes:
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        pdf = labeled.select(id_col, "__y", "fmap").toPandas()
        rows = _train_score_local(
            list(pdf[id_col]), list(pdf["fmap"]), list(pdf["__y"]),
            n_buckets, iters, lr,
        )
        schema = StructType(
            [
                StructField(id_col, labeled.schema[id_col].dataType),
                StructField("y", IntegerType()),
                StructField("score", DoubleType()),
                StructField("pred", IntegerType()),
            ]
        )
        # hand the result back through pandas so createDataFrame takes
        # the Arrow path (the pickled-rows path cost ~3.4 s for 5k rows
        # — guide §6 Arrow-for-driver-transfers)
        import pandas as pd

        out = pd.DataFrame(rows, columns=[id_col, "y", "score", "pred"])
        return docs.sparkSession.createDataFrame(out, schema).orderBy(
            id_col
        )
    weights = train_logistic(
        labeled, label_col="__y", n_buckets=n_buckets, iters=iters, lr=lr,
        cache=False,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin_col()))
    return (
        labeled.crossJoin(
            F.broadcast(_weights_1row(docs.sparkSession, weights))
        )
        .select(
            id_col,
            F.col("__y").cast("int").alias("y"),
            F.round(p, 6).alias("score"),
        )
        .select(
            id_col,
            "y",
            "score",
            (F.col("score") >= 0.5).cast("int").alias("pred"),
        )
        .orderBy(id_col)
    )


def calibration_sweep(
    scored: DataFrame,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Operating-point sweep over a trained classifier's scores — the
    threshold-selection step every learned quality filter ships with
    (FineWeb-Edu keeps score >= 3/5; CCNet tunes per-language): for
    each candidate threshold, the confusion counts against the weak
    labels plus precision / recall / F1.

    ``scored`` is quality_classifier's output (id, y, score, pred);
    thresholds default to 0.1 … 0.9.  The fan-out is an in-plan
    explode of a 9-element literal array (pure codegen — no join, no
    second pass over the corpus: one projection + one 9-group
    aggregation with map-side combine, O(9) rows out regardless of
    corpus size).  Ratios divide exact int64 confusion counts as IEEE
    doubles (round-6), F1 in the single-division form
    2·tp / (2·tp + fp + fn) so no compounded rounding; empty
    denominators yield NULL in both engines.
    """
    if thresholds is None:
        thresholds = [k / 10.0 for k in range(1, 10)]
    out = scored.select(
        "y",
        "score",
        F.explode(
            F.array(*[F.lit(float(t)) for t in thresholds])
        ).alias("threshold"),
    )
    hit = (F.col("score") >= F.col("threshold")).cast("int")
    y = F.col("y")
    agg = out.groupBy("threshold").agg(
        F.sum(hit * y).cast("long").alias("tp"),
        F.sum(hit * (1 - y)).cast("long").alias("fp"),
        F.sum((1 - hit) * y).cast("long").alias("fn"),
        F.sum((1 - hit) * (1 - y)).cast("long").alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(tp + fp == 0, F.lit(None)).otherwise(
            F.round(tp / (tp + fp), 6)
        ).alias("precision"),
        F.when(tp + fn == 0, F.lit(None)).otherwise(
            F.round(tp / (tp + fn), 6)
        ).alias("recall"),
        F.when(2 * tp + fp + fn == 0, F.lit(None)).otherwise(
            F.round(2 * tp / (2 * tp + fp + fn), 6)
        ).alias("f1"),
    ).orderBy("threshold")


def calibration_oracle_sql(classifier_sql: str) -> str:
    """DuckDB replay: wraps the classifier oracle (its full unrolled
    GD chain) as a scored subquery and sweeps the same 9 thresholds
    with identical NULL-on-empty-denominator semantics."""
    return f"""
WITH scored AS ({classifier_sql}),
sweep AS (
  SELECT s.y, s.score, tt.k / 10.0 AS threshold
  FROM scored s, (SELECT UNNEST(range(1, 10)) AS k) tt
),
agg AS (
  SELECT threshold,
         SUM(CASE WHEN score >= threshold AND y = 1 THEN 1 ELSE 0 END)
           AS tp,
         SUM(CASE WHEN score >= threshold AND y = 0 THEN 1 ELSE 0 END)
           AS fp,
         SUM(CASE WHEN score < threshold AND y = 1 THEN 1 ELSE 0 END)
           AS fn,
         SUM(CASE WHEN score < threshold AND y = 0 THEN 1 ELSE 0 END)
           AS tn
  FROM sweep GROUP BY threshold
)
SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE ROUND(tp / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE ROUND(tp / (tp + fn), 6) END AS recall,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE ROUND(2 * tp / (2 * tp + fp + fn), 6) END AS f1
FROM agg ORDER BY threshold"""


def logreg_oracle_sql(
    label_sql: str,
    n_buckets: int = 64,
    iters: int = 6,
    lr: float = 2.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of the exact training recurrence, unrolled.

    One (gradient, weights) CTE pair per iteration — the BPE trainer's
    16-round chain precedent. ``label_sql`` is the weak-label boolean
    expression in DuckDB SQL.
    """
    d, head = n_buckets, []
    head.append(f"""
WITH toks AS (
  SELECT {id_col} AS id,
         list_filter(regexp_split_to_array({text_col}, '\\s+'),
                     x -> x <> '') AS t,
         CASE WHEN {label_sql} THEN 1.0 ELSE 0.0 END AS y
  FROM {table}
),
base AS (SELECT id, t, y, len(t) AS n_tok FROM toks WHERE len(t) > 0),
feat AS (
  SELECT id, bucket, COUNT(*) / CAST(ANY_VALUE(n_tok) AS DOUBLE) AS x
  FROM (
    SELECT id, n_tok,
           CAST(('0x' || SUBSTRING(MD5(tok), 1, 8)) AS BIGINT) % {d}
             AS bucket
    FROM base, UNNEST(t) AS u(tok)
  ) GROUP BY id, bucket
  UNION ALL
  SELECT id, {d} AS bucket, 1.0 AS x FROM base
),
lab AS (SELECT id, y FROM base),
nn AS (SELECT COUNT(*) AS n FROM lab),
spine AS (SELECT CAST(range AS BIGINT) AS bucket FROM range({d + 1})),
w0 AS (SELECT bucket, 0.0 AS w FROM spine)""")
    for t in range(1, iters + 1):
        head.append(f""",
m{t} AS (
  SELECT f.id, SUM(f.x * w.w) AS m
  FROM feat f JOIN w{t - 1} w USING (bucket) GROUP BY f.id
),
g{t} AS (
  SELECT f.bucket,
         SUM((1.0 / (1.0 + EXP(-m{t}.m)) - lab.y) * f.x) AS g
  FROM feat f JOIN m{t} USING (id) JOIN lab USING (id)
  GROUP BY f.bucket
),
w{t} AS (
  SELECT s.bucket,
         w.w - {lr!r} * COALESCE(g{t}.g, 0.0) / (SELECT n FROM nn) AS w
  FROM spine s JOIN w{t - 1} w USING (bucket)
  LEFT JOIN g{t} USING (bucket)
)""")
    head.append(f"""
SELECT lab.id AS {id_col}, CAST(lab.y AS INT) AS y,
       ROUND(1.0 / (1.0 + EXP(-m{iters + 1}.m)), 6) AS score,
       CAST(ROUND(1.0 / (1.0 + EXP(-m{iters + 1}.m)), 6) >= 0.5 AS INT)
         AS pred
FROM lab JOIN m{iters + 1} ON lab.id = m{iters + 1}.id
ORDER BY lab.id""")
    # final margins against the last weights
    head.insert(
        len(head) - 1,
        f""",
m{iters + 1} AS (
  SELECT f.id, SUM(f.x * w.w) AS m
  FROM feat f JOIN w{iters} w USING (bucket) GROUP BY f.id
)""",
    )
    return "".join(head)
