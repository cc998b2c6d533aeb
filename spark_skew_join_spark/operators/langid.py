"""Supervised language identification: hashed char-n-grams + softmax GD.

The fastText language-ID recipe (Joulin et al. 2017, "Bag of Tricks for
Efficient Text Classification"; langid.py, Lui & Baldwin 2012) is a
linear softmax classifier over hashed character-n-gram features — the
production counterpart of the heuristic `text_lang_id` query: the
heuristic needs hand-picked marker grams, the trained model learns its
own from labeled docs and generalizes to every class in the corpus.

Spark-native, deterministic, oracle-replayable (the
operators/classifier.py logistic-GD precedent upgraded to multiclass):
full-batch softmax gradient descent with FIXED iteration count and zero
initialization — every arithmetic step is a pure function of the data,
so a DuckDB CTE chain replays the whole trajectory (softmax margins,
per-class gradients, weight updates) and the driver gate certifies the
final per-doc predictions EXACT.

Scale shape (100 TB corpus):
* Feature build: char bigrams via explode-positions (pure codegen, the
  shingles idiom), bucketed by md5 (SQL-replayable) BEFORE the
  (id, bucket) count — gram strings never shuffle; the granular
  (id, bucket, c, n_gram) table (char_tf_counts) is hash-partitioned
  by id, persisted once for the training loop, and SHAREABLE: any
  divisor bucket count derives by ``bucket % m`` re-aggregation.
* Per GD iteration (fully relational since r13 — no higher-order
  functions, whole-stage codegen stays on): margins = bucket-equi-join
  against the broadcast weight relation → groupBy(id) with C sums
  (no exchange, already partitioned by id) → per-doc softmax residuals
  → co-partitioned join back → groupBy(bucket) with C
  partially-aggregated sums → collect D+1 rows. Each iteration moves
  O((D+1) x C x tasks) bytes regardless of corpus size; the driver
  holds only the C x (D+1) weight matrix (~2.6 KB here).
* Scoring: the same margins aggregate once more, argmax in-row.

Why not MLlib: pyspark.ml's softmax is LBFGS behind a JVM barrier —
nondeterministic iteration counts, not oracle-checkable (the
classifier.py rationale).

No reference-repo counterpart (anish749/spark-skew-join is a join
utility, dfimplicits.scala:26-125); mandated LLM-pipeline extension
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "char_hashed_features",
    "char_tf_counts",
    "train_softmax",
    "langid_classifier",
    "langid_eval",
    "softmax_oracle_sql",
    "langid_eval_oracle_sql",
]


def char_hashed_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    n: int = 2,
) -> DataFrame:
    """Doc-major sparse char-n-gram feature maps via the hashing trick.

    Grams are overlapping character n-grams of the lowercased text
    (spaces included — word boundaries carry language signal), built
    with sequence+explode (pure codegen, the shingles idiom,
    operators/dedup.py:148) and bucketed by the first 8 hex chars of
    md5(gram) mod ``n_buckets`` (SQL-replayable), tf-normalized by the
    doc's gram count. Bucket ``n_buckets`` is the bias feature (1.0).

    Case-fold caveat (ADVICE r13): gram positions derive from the
    LOWERED text (so the few Unicode chars whose lower() changes
    length — e.g. U+0130 — neither drop nor shift grams), and the
    oracle SQL mirrors that with LENGTH(LOWER(..)). The two engines'
    LOWER can still disagree on those exotic chars themselves (JVM
    maps U+0130 to 2 codepoints, DuckDB/utf8proc to 1) — each side is
    internally consistent; cross-engine equality holds for text where
    lower() is length-preserving (all fixture corpora).

    Output: (id_col, fmap map<int,double>, n_gram). Docs shorter than
    ``n`` chars are dropped (no grams -> undefined tf).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if n < 1:
        raise ValueError("n must be >= 1")
    from ..sources.tables import fan_out_narrow

    # lower() can change string LENGTH for a handful of Unicode chars
    # (e.g. U+0130 lowers to 2 codepoints), so gram positions must
    # derive from the LOWERED text: lower once, then take length/
    # substring from that same column (ADVICE r13)
    pos = F.explode(
        F.sequence(F.lit(1), F.length(F.col("__t")) - n + 1)
    ).alias("pos")
    bucket = (
        F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    tf = (
        fan_out_narrow(
            docs.select(
                F.col(id_col), F.lower(F.col(text_col)).alias("__t")
            ).where(F.length(text_col) >= n)
        )
        .select(id_col, "__t", pos)
        .select(
            id_col,
            F.substring(F.col("__t"), F.col("pos").cast("int"), n).alias(
                "__g"
            ),
        )
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("c").alias("n_gram"),
        F.collect_list(F.struct("bucket", "c")).alias("__e"),
    )
    fmap = F.map_from_entries(
        F.concat(
            F.transform(
                "__e",
                lambda e: F.struct(
                    e["bucket"].cast("int").alias("key"),
                    (e["c"].cast("double") / F.col("n_gram")).alias("value"),
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
    return per_doc.select(id_col, fmap.alias("fmap"), "n_gram")


def char_tf_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    n: int = 2,
) -> DataFrame:
    """The GRANULAR, SHAREABLE form of char_hashed_features:
    (id_col, bucket int, c bigint, n_gram bigint), hash-partitioned by
    ``id_col``. Because bucket = md5_32 % n_buckets, any DIVISOR bucket
    count m derives exactly by re-aggregating ``bucket % m`` (x % 128
    % 64 == x % 64) — one persisted 128-bucket table feeds both the
    128-bucket and 64-bucket registry classifiers without
    re-tokenizing the corpus (VERDICT r12 next-round #1)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if n < 1:
        raise ValueError("n must be >= 1")
    from ..sources.tables import fan_out_narrow

    # lower() can change string LENGTH for a handful of Unicode chars
    # (e.g. U+0130 lowers to 2 codepoints), so gram positions must
    # derive from the LOWERED text: lower once, then take length/
    # substring from that same column (ADVICE r13)
    pos = F.explode(
        F.sequence(F.lit(1), F.length(F.col("__t")) - n + 1)
    ).alias("pos")
    bucket = (
        F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    tf = (
        fan_out_narrow(
            docs.select(
                F.col(id_col), F.lower(F.col(text_col)).alias("__t")
            ).where(F.length(text_col) >= n)
        )
        .select(id_col, "__t", pos)
        .select(
            id_col,
            F.substring(F.col("__t"), F.col("pos").cast("int"), n).alias(
                "__g"
            ),
        )
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("c").alias("n_gram"),
        F.collect_list(F.struct("bucket", "c")).alias("__e"),
    )
    return per_doc.select(
        id_col, "n_gram", F.explode("__e").alias("__kv")
    ).select(
        id_col,
        # base bucket count rides along as column metadata so a
        # consumer folding bucket % m can VALIDATE m divides the base
        # (ADVICE r13: a non-divisor fold is silently wrong)
        F.col("__kv.bucket")
        .cast("int")
        .alias("bucket", metadata={"base_buckets": n_buckets}),
        F.col("__kv.c").alias("c"),
        "n_gram",
    )


def _softmax_local(
    pdf, classes: list[str], n_buckets: int, iters: int, lr: float
):
    """numpy replay of the _gd_loop recurrence + scoring over the
    collected exploded feature relation (__id, __y, bucket, x) — the
    r15 driver fast path (see classifier.DRIVER_TRAIN_MAX_BYTES).
    Identical arithmetic: margins = Σ x·w per (doc, class), softmax
    residuals with the class-index-ordered denominator sum, full-batch
    update w -= lr·g/n, then round-6 HALF_UP probabilities and
    first-max argmax (ties to the smallest class index). Returns
    [(id, y_str, pred_str, p_pred), ...] sorted by id."""
    import numpy as np

    from .classifier import _round6_half_up

    nc = len(classes)
    ids, doc_idx = np.unique(pdf["__id"].to_numpy(), return_inverse=True)
    n = len(ids)
    if n == 0:
        raise ValueError("no training documents (all too short?)")
    d1 = n_buckets + 1
    X = np.zeros((n, d1), dtype=np.float64)
    X[doc_idx, pdf["bucket"].to_numpy()] = pdf["x"].to_numpy(
        dtype=np.float64
    )
    yv = np.zeros(n, dtype=np.int64)
    yv[doc_idx] = pdf["__y"].to_numpy()
    W = np.zeros((nc, d1), dtype=np.float64)

    def _probs():
        E = np.exp(X @ W.T)
        # class-index-ordered sequential denominator — the exact fold
        # order of the relational es[0] + es[1] + ... expression
        denom = E[:, 0].copy()
        for c in range(1, nc):
            denom += E[:, c]
        return E / denom[:, None]

    rng = np.arange(n)
    for _ in range(iters):
        R = _probs()
        R[rng, yv] -= 1.0
        W -= lr * (R.T @ X) / n
    P = _probs()
    out = []
    for i in range(n):
        probs = [_round6_half_up(float(P[i, c])) for c in range(nc)]
        best = max(probs)
        pred = classes[probs.index(best)]
        out.append((ids[i].item() if hasattr(ids[i], "item") else ids[i],
                    classes[int(yv[i])], pred, best))
    out.sort(key=lambda r: r[0])
    return out


def _weights_rel(spark, weights: list[list[float]]):
    """The C x (D+1) weight matrix as a (D+1)-row broadcastable
    relation (bucket, __w0..__w{C-1}). As a broadcast RELATION rather
    than literal arrays the compiled iteration code is identical
    across iterations (only the relation's rows change — the r12
    one-row-broadcast insight), and the per-bucket wide layout feeds a
    plain equi-join + hash aggregate: no higher-order functions, so
    whole-stage codegen stays ON (the r12 HOF path was CodegenFallback
    and ran the loop with WSCG scoped off)."""
    nc, d1 = len(weights), len(weights[0])
    rows = [
        tuple([b] + [float(weights[c][b]) for c in range(nc)])
        for b in range(d1)
    ]
    schema = "bucket int, " + ", ".join(f"__w{c} double" for c in range(nc))
    return spark.createDataFrame(rows, schema)


def _gd_loop(exl: DataFrame, n: int, n_classes: int, n_buckets: int,
             iters: int, lr: float) -> list[list[float]]:
    """The softmax-GD recurrence over the exploded feature relation
    ``exl`` = (persisted) (__id, __y, bucket, x), hash-partitioned by
    __id. Per iteration, ONE action: margins = bucket-equi-join against
    the broadcast weight relation → groupBy(__id) with C sums (no
    exchange — exl is already partitioned by __id) → softmax residuals
    per doc → join back to exl on __id (both sides co-partitioned) →
    groupBy(bucket) with C partially-aggregated sums → collect D+1
    rows. Driver state is the C x (D+1) matrix only; per-iteration
    traffic is O((D+1) x C) regardless of corpus size."""
    from functools import reduce as _reduce

    spark = exl.sparkSession
    # AQE is pure overhead inside the loop: every iteration's relations
    # are tiny and fixed-shape, so per-stage re-optimization buys
    # nothing and costs real wall (A/B at sf0.1: 4 iterations 9.9 s
    # with AQE, 6.0 s without). Scope it off and restore after — the
    # co-partitioning and the shuffle_hash hint fully determine the
    # plan we want.
    try:
        _old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    except Exception:
        _old_aqe = "true"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    weights = [[0.0] * (n_buckets + 1) for _ in range(n_classes)]
    try:
        _run_gd_iterations(
            exl, n, n_classes, iters, lr, weights, spark, _reduce
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", _old_aqe)
    return weights


def _run_gd_iterations(exl, n, n_classes, iters, lr, weights, spark,
                       _reduce):
    for _ in range(iters):
        wdf = _weights_rel(spark, weights)
        margins = (
            exl.join(F.broadcast(wdf), "bucket")
            .groupBy("__id", "__y")
            .agg(
                *[
                    F.sum(F.col("x") * F.col(f"__w{c}")).alias(f"__m{c}")
                    for c in range(n_classes)
                ]
            )
        )
        es = [F.exp(F.col(f"__m{c}")) for c in range(n_classes)]
        denom = _reduce(lambda a, b: a + b, es)
        resid = margins.select(
            "__id",
            *[
                (es[c] / denom - (F.col("__y") == c).cast("double")).alias(
                    f"__r{c}"
                )
                for c in range(n_classes)
            ],
        )
        # shuffle-hash on the per-doc resid side: both sides are
        # hash-partitioned by __id (exl at persist time, resid through
        # the margins aggregate), so the join is partition-local — and
        # the hint stops Catalyst from broadcasting whichever side its
        # size estimate undercounts (it picked the CORPUS-sized exl
        # cache when left to itself; a resid broadcast would be just
        # as wrong at 100 TB: one row per document)
        grad_rows = (
            exl.join(resid.hint("shuffle_hash"), "__id")
            .groupBy("bucket")
            .agg(
                *[
                    F.sum(F.col("x") * F.col(f"__r{c}")).alias(f"g{c}")
                    for c in range(n_classes)
                ]
            )
            .collect()
        )
        for row in grad_rows:
            for c in range(n_classes):
                weights[c][row["bucket"]] -= lr * row[f"g{c}"] / n


def train_softmax(
    feats: DataFrame,
    label_col: str = "y",
    n_classes: int = 2,
    n_buckets: int = 128,
    iters: int = 6,
    lr: float = 2.0,
) -> list[list[float]]:
    """Full-batch softmax GD; returns the C x (D+1) weight matrix.

    ``label_col`` holds class INDICES 0..C-1. The update, w_0 = 0:

        p_c   = exp(x·w_c) / Σ_c' exp(x·w_c')
        w_{t+1}[c][b] = w_t[c][b] - lr/n · Σ_docs (p_c - 1[y=c]) x[b]

    ``iters`` is fixed, so the trajectory is a pure function of the
    data — a DuckDB CTE chain replays it (float sum order is the only
    divergence, invisible at the registry's round-6 outputs). Since
    r13 the loop is fully RELATIONAL (_gd_loop): the r12 higher-order-
    function margins fold was CodegenFallback (interpreted) and cost
    ~1.4 s/iteration at 5k docs; plain joins + hash aggregates keep
    whole-stage codegen on, with the broadcast weight relation keeping
    the compiled code identical across iterations."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if n_classes < 2:
        raise ValueError("n_classes must be >= 2")
    id_col = feats.columns[0]
    exl = (
        feats.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__y"),
            F.explode("fmap").alias("bucket", "x"),
        )
        # hash-partition by doc BEFORE persisting: every margins
        # groupBy(__id) and gradient join in the loop then runs
        # without an exchange
        .repartition("__id")
        .persist()
    )
    try:
        n = exl.select("__id").distinct().count()
        if n == 0:
            raise ValueError("no training documents (all too short?)")
        return _gd_loop(exl, n, n_classes, n_buckets, iters, lr)
    finally:
        exl.unpersist()


def langid_classifier(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    classes: list[str] | None = None,
    n_buckets: int = 128,
    n: int = 2,
    iters: int = 6,
    lr: float = 2.0,
    tf_counts: DataFrame | None = None,
    driver_train_max_bytes: int | None = None,
) -> DataFrame:
    """Train on the labeled corpus, predict a language for every doc.

    ``classes`` fixes the class-index mapping (sorted distinct labels
    when omitted — collected once, bounded by the language count).
    Prediction is the argmax of the ROUND-6 softmax probabilities,
    ties to the smallest class index, so engine and oracle agree
    whenever their rounded probabilities do. ``tf_counts`` optionally
    supplies a precomputed char_tf_counts table built at a bucket
    count DIVISIBLE by ``n_buckets`` (the family-cache path: one
    128-bucket table feeds both registry classifiers).

    Output per doc: (id_col, y, pred, p_pred) ordered by id — y/pred
    are the label strings, p_pred the rounded winning probability.
    """
    if classes is None:
        classes = sorted(
            r[0]
            for r in docs.select(label_col).distinct().collect()
            if r[0] is not None
        )
    cidx = {v: i for i, v in enumerate(classes)}
    nc = len(cidx)
    if nc < 2:
        raise ValueError("need at least 2 classes")
    label_ix = F.col(label_col)
    y_expr = None
    for v, i in cidx.items():
        y_expr = (
            F.when(label_ix == v, i)
            if y_expr is None
            else y_expr.when(label_ix == v, i)
        )
    if tf_counts is None:
        tf = char_tf_counts(docs, id_col, text_col, n_buckets, n)
    else:
        # shared granular counts (e.g. the 128-bucket family table):
        # fold down to this classifier's bucket count — exact ONLY
        # because md5_32 % base % n_buckets == md5_32 % n_buckets when
        # n_buckets DIVIDES base, and summed counts divide by the SAME
        # per-doc n_gram the oracle uses. A non-divisor fold would be
        # silently wrong (bucket % m != md5 % m), so validate against
        # the base count char_tf_counts stamps on the bucket column
        # (ADVICE r13 #1).
        try:
            base = tf_counts.schema["bucket"].metadata.get("base_buckets")
        except KeyError:
            raise ValueError(
                "tf_counts must have a 'bucket' column (char_tf_counts "
                "output)"
            )
        if base is None:
            raise ValueError(
                "tf_counts lacks base_buckets metadata — build it with "
                "char_tf_counts so the bucket-fold divisibility can be "
                "validated"
            )
        if base % n_buckets != 0:
            raise ValueError(
                f"n_buckets={n_buckets} does not divide the tf_counts "
                f"base bucket count {base}: bucket % {n_buckets} would "
                f"not equal md5 % {n_buckets} and the features would be "
                "silently wrong"
            )
        # groupBy(id, bucket%m) needs no exchange: the table is
        # already hash-partitioned by id.
        tf = (
            tf_counts.groupBy(
                id_col,
                (F.col("bucket") % n_buckets).cast("int").alias("bucket"),
            )
            .agg(F.sum("c").alias("c"), F.max("n_gram").alias("n_gram"))
        )
    # exploded features: tf rows normalized per doc + the bias row —
    # the relational mirror of the oracle's feat CTE
    ex = tf.select(
        id_col,
        "bucket",
        (F.col("c").cast("double") / F.col("n_gram")).alias("x"),
    ).unionByName(
        tf.select(id_col).distinct().select(
            id_col,
            F.lit(n_buckets).cast("int").alias("bucket"),
            F.lit(1.0).alias("x"),
        )
    )
    labels = docs.select(
        id_col, y_expr.cast("int").alias("__y")
    ).where(F.col("__y").isNotNull())
    # the bias-row union above erases the child partitioning, so
    # re-establish hash(__id) before the persist — the GD loop and the
    # scoring aggregate then run exchange-free
    exl = ex.join(labels, id_col).select(
        F.col(id_col).alias("__id"), "__y", "bucket", "x"
    ).repartition("__id")
    # r14: the persist OUTLIVES training — scoring below reads the same
    # cached relation instead of re-deriving the whole tf → normalize →
    # bias-union → label-join → repartition lineage a second time at
    # consumption (guide §5: persist when reused and recompute is the
    # expensive side; for the planted entry the recompute was a second
    # full tokenize pass inside the same timed line). Ownership moves to
    # the dedup session-cache ledger, whose scoped release
    # (release_entries) or clear_band_cache frees the blocks.
    from .dedup import _session_cache

    # "ckpt": the relation is consumed by the doc count, every GD
    # iteration and scoring — each a separate action that with plain
    # persist re-analyzed the full tf/normalize/union/join lineage
    # (persist substitutes cached blocks only after analysis); the
    # eager checkpoint truncates to a LogicalRDD. Training is eager
    # anyway (the GD loop collects), so nothing escapes timed regions.
    exl = _session_cache(exl, mode="ckpt")
    # r15 driver fast path (classifier.DRIVER_TRAIN_MAX_BYTES doc):
    # when the exploded feature relation fits the driver budget
    # (rows x 24 B — the exact arrow width of (id, y, bucket, x)),
    # collect it ONCE and replay the identical softmax recurrence in
    # numpy: replaces the distinct-count + ``iters`` gradient collects
    # + the 20-class relational scoring aggregate with one toPandas.
    # The relational loop below is the at-scale path; both paths are
    # pinned exactly equal in tests/test_driver_train.py.
    if driver_train_max_bytes is None:
        from .classifier import DRIVER_TRAIN_MAX_BYTES

        driver_train_max_bytes = DRIVER_TRAIN_MAX_BYTES
    n_rows = exl.count()
    if driver_train_max_bytes and n_rows * 24 <= driver_train_max_bytes:
        from pyspark.sql.types import (
            DoubleType,
            StringType,
            StructField,
            StructType,
        )

        rows = _softmax_local(
            exl.toPandas(), classes, n_buckets, iters, lr
        )
        schema = StructType(
            [
                StructField(id_col, exl.schema["__id"].dataType),
                StructField("y", StringType()),
                StructField("pred", StringType()),
                StructField("p_pred", DoubleType()),
            ]
        )
        # pandas → Arrow createDataFrame (the pickled-rows path costs
        # seconds at 5k rows — guide §6)
        import pandas as pd

        out = pd.DataFrame(rows, columns=[id_col, "y", "pred", "p_pred"])
        return docs.sparkSession.createDataFrame(out, schema).orderBy(
            id_col
        )
    n_docs = exl.select("__id").distinct().count()
    if n_docs == 0:
        raise ValueError("no training documents (all too short?)")
    weights = _gd_loop(exl, n_docs, nc, n_buckets, iters, lr)
    # relational scoring: same margins join/aggregate as an iteration,
    # then round-6 softmax and the first-max argmax (smallest class
    # index on ties — the oracle's (p DESC, c ASC) rule)
    wdf = _weights_rel(docs.sparkSession, weights)
    margins = (
        exl.join(F.broadcast(wdf), "bucket")
        .groupBy("__id", "__y")
        .agg(
            *[
                F.sum(F.col("x") * F.col(f"__w{c}")).alias(f"__m{c}")
                for c in range(nc)
            ]
        )
    )
    # ONE probs-array expression, argmax via array_position(arr,
    # array_max(arr)) — first occurrence of the max, i.e. ties to the
    # smallest class index, the oracle's (p DESC, c ASC) rule. The
    # array shape matters beyond style: C per-column prob expressions
    # each embedding the C-term softmax denominator, then a
    # greatest(...) + 20-branch when-chain comparing against it, build
    # an O(C^3)-node tree that CollapseProject inlines into every
    # downstream reference — at C=20 the optimizer (re-run per AQE
    # stage) walked it for minutes and langid_eval's toPandas looked
    # hung. The array keeps the tree O(C^2) and referenced subtrees
    # small.
    es = [F.exp(F.col(f"__m{c}")) for c in range(nc)]
    denom = es[0]
    for e in es[1:]:
        denom = denom + e
    parr = F.array(*[F.round(es[c] / denom, 6) for c in range(nc)])
    scored = margins.select("__id", "__y", parr.alias("__p"))
    best = F.array_max("__p")
    lab_arr = F.array(*[F.lit(v) for v in classes])
    pred = F.element_at(
        lab_arr, F.array_position(F.col("__p"), best).cast("int")
    )
    y_str = F.element_at(lab_arr, (F.col("__y") + 1).cast("int"))
    return scored.select(
        F.col("__id").alias(id_col),
        y_str.alias("y"),
        pred.alias("pred"),
        best.alias("p_pred"),
    ).orderBy(id_col)


def langid_eval(scored: DataFrame, label_col: str = "y") -> DataFrame:
    """Per-class one-vs-rest metrics over langid_classifier output:
    (lang, n_docs, tp, fp, fn, precision, recall, f1), one row per
    TRUE class, ordered by lang — the multiclass counterpart of
    classifier.py::calibration_sweep (single aggregation pass, C rows
    out regardless of corpus size; NULL on empty denominators in both
    engines)."""
    y, p = F.col(label_col), F.col("pred")
    per_true = scored.groupBy(y.alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((p == y).cast("int")).cast("long").alias("tp"),
        F.sum((p != y).cast("int")).cast("long").alias("fn"),
    )
    per_pred = scored.where(p != y).groupBy(p.alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("fp")
    )
    j = per_true.join(per_pred, "lang", "left").withColumn(
        "fp", F.coalesce(F.col("fp"), F.lit(0).cast("long"))
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return j.select(
        "lang",
        "n_docs",
        "tp",
        "fp",
        "fn",
        F.when(tp + fp == 0, F.lit(None))
        .otherwise(F.round(tp / (tp + fp), 6))
        .alias("precision"),
        F.when(tp + fn == 0, F.lit(None))
        .otherwise(F.round(tp / (tp + fn), 6))
        .alias("recall"),
        F.when(2 * tp + fp + fn == 0, F.lit(None))
        .otherwise(F.round(2 * tp / (2 * tp + fp + fn), 6))
        .alias("f1"),
    ).orderBy("lang")


def softmax_oracle_sql(
    n_buckets: int = 128,
    n: int = 2,
    iters: int = 6,
    lr: float = 2.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> str:
    """DuckDB replay of the exact softmax training recurrence, unrolled
    (the classifier.py::logreg_oracle_sql pattern, multiclass): one
    (margin, softmax, gradient, weights) CTE quadruple per iteration
    over a (bucket x class) weight spine. The class-index mapping is
    derived IN SQL (sorted distinct labels) — the same mapping the
    Spark side collects — so the oracle needs no fixture-specific
    literals."""
    d = n_buckets
    head = [f"""
WITH cls AS (
  SELECT lbl, ROW_NUMBER() OVER (ORDER BY lbl) - 1 AS c
  FROM (SELECT DISTINCT {label_col} AS lbl FROM {table}
        WHERE {label_col} IS NOT NULL)
),
base AS (
  SELECT {id_col} AS id, LOWER({text_col}) AS txt,
         LENGTH(LOWER({text_col})) - {n} + 1 AS ng, {label_col} AS lbl
  FROM {table} WHERE LENGTH({text_col}) >= {n}
),
feat AS (
  SELECT id, bucket, COUNT(*) / CAST(ANY_VALUE(ng) AS DOUBLE) AS x
  FROM (
    SELECT id, ng,
           CAST(('0x' || SUBSTRING(MD5(SUBSTRING(txt, i, {n})), 1, 8))
                AS BIGINT) % {d} AS bucket
    FROM base, UNNEST(range(1, ng + 1)) AS u(i)
  ) GROUP BY id, bucket
  UNION ALL
  SELECT id, {d} AS bucket, 1.0 AS x FROM base
),
lab AS (SELECT base.id, cls.c AS y, base.lbl FROM base JOIN cls USING (lbl)),
nn AS (SELECT COUNT(*) AS n FROM lab),
spine AS (
  SELECT CAST(b.range AS BIGINT) AS bucket, cls.c
  FROM range({d + 1}) b, cls
),
w0 AS (SELECT bucket, c, 0.0 AS w FROM spine)"""]
    for t in range(1, iters + 2):
        head.append(f""",
m{t} AS (
  SELECT f.id, w.c, SUM(f.x * w.w) AS m
  FROM feat f JOIN w{t - 1} w USING (bucket) GROUP BY f.id, w.c
),
p{t} AS (
  SELECT id, c, EXP(m) / SUM(EXP(m)) OVER (PARTITION BY id) AS p
  FROM m{t}
)""")
        if t == iters + 1:
            break  # final probabilities only — no further update
        head.append(f""",
g{t} AS (
  SELECT f.bucket, p.c,
         SUM((p.p - CASE WHEN lab.y = p.c THEN 1.0 ELSE 0.0 END) * f.x)
           AS g
  FROM feat f JOIN p{t} p USING (id) JOIN lab USING (id)
  GROUP BY f.bucket, p.c
),
w{t} AS (
  SELECT s.bucket, s.c,
         w.w - {lr!r} * COALESCE(g{t}.g, 0.0) / (SELECT n FROM nn) AS w
  FROM spine s JOIN w{t - 1} w USING (bucket, c)
  LEFT JOIN g{t} USING (bucket, c)
)""")
    # argmax on the ROUNDED probabilities, smallest class index on
    # ties — the same rule the Spark side's first-max CASE chain uses
    head.append(f""",
pfin AS (
  SELECT id, c, ROUND(p, 6) AS p FROM p{iters + 1}
),
win AS (
  SELECT id, c, p,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY p DESC, c ASC)
           AS rn
  FROM pfin
)
SELECT lab.id AS {id_col}, lab.lbl AS y, cls.lbl AS pred,
       win.p AS p_pred
FROM win JOIN lab USING (id) JOIN cls USING (c)
WHERE win.rn = 1
ORDER BY lab.id""")
    return "".join(head)


def langid_eval_oracle_sql(scored_sql: str) -> str:
    """DuckDB replay of langid_eval over a scored subquery."""
    return f"""
WITH scored AS ({scored_sql}),
per_true AS (
  SELECT y AS lang, COUNT(*) AS n_docs,
         SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN pred <> y THEN 1 ELSE 0 END) AS fn
  FROM scored GROUP BY y
),
per_pred AS (
  SELECT pred AS lang, COUNT(*) AS fp FROM scored WHERE pred <> y
  GROUP BY pred
)
SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.tp AS BIGINT) AS tp,
       CAST(COALESCE(p.fp, 0) AS BIGINT) AS fp,
       CAST(t.fn AS BIGINT) AS fn,
       CASE WHEN t.tp + COALESCE(p.fp, 0) = 0 THEN NULL
            ELSE ROUND(t.tp / (t.tp + COALESCE(p.fp, 0)), 6)
       END AS precision,
       CASE WHEN t.tp + t.fn = 0 THEN NULL
            ELSE ROUND(t.tp / (t.tp + t.fn), 6) END AS recall,
       CASE WHEN 2 * t.tp + COALESCE(p.fp, 0) + t.fn = 0 THEN NULL
            ELSE ROUND(2 * t.tp / (2 * t.tp + COALESCE(p.fp, 0) + t.fn), 6)
       END AS f1
FROM per_true t LEFT JOIN per_pred p USING (lang)
ORDER BY t.lang"""
