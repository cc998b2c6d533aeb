"""Gopher-style document quality / repetition signals.

The reference library has no text operators; this is part of the
driver-mandated LLM-data-pipeline extension surface (SURVEY §2b ★).
Signal set follows the published Gopher rules (Rae et al. 2021, §A1.1:
word-count bounds, mean-word-length bounds, symbol-to-word ratio, fraction
of characters in the most frequent n-gram), adapted to the fixture corpus
(single-line, single-space-separated text, so the line-based rules don't
apply and repetition is measured on word n-grams).

Scale design (100 TB): the scan fans out by doc id; one ``select``
computes the scalar signals and the token array, one ``explode_outer``
emits every unigram and bigram as an ``(n, xxhash64)`` row, and the
``(doc, n, gram)`` then ``doc`` aggregates both reuse the doc-id
partitioning: one exchange, no join, no Python UDFs. Compute a per-row
array in a ``select`` *before* the one that explodes: Spark evaluates a
select's other expressions above its ``Generate``, once per position.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import punct_count, token_count
from ..sources.tables import fan_out_narrow


def duplicate_ngram_fraction(docs: DataFrame, id_col: str, text_col: str,
                             n: int, out_col: str) -> DataFrame:
    """(id_col, out_col): fraction of the doc's word n-grams that are
    repeats of an earlier occurrence — 1 - distinct/total. The Gopher
    duplicate-n-gram family of repetition signals (gopher_quality_signals
    covers the "most frequent n-gram" variant; this covers the
    "duplicate n-grams" variant). Docs with < n words are excluded.

    Same explode-positions + slice shape as the contamination gram
    builder (HOF transform() lambdas fall out of codegen and ran 5×
    slower there); two-level aggregation keyed (doc, gram) → doc, both
    in the partition the doc-id fan-out put the document in."""
    toks = F.split(F.col(text_col), " ")
    base = (
        fan_out_narrow(docs, by=id_col)
        .where(F.size(toks) >= n)
        .select(F.col(id_col), toks.alias("__tk"))
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("__tk") - (n - 1))).alias("__i"),
            "__tk",
        )
    )
    # hashed gram key: identity is all the count needs (8-byte shuffle,
    # the shingle/setsim trick)
    gram = F.xxhash64(F.array_join(F.slice(F.col("__tk"), F.col("__i"), n), " "))
    per_gram = (
        base.select(F.col(id_col), gram.alias("_ng"))
        .groupBy(id_col, "_ng")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return per_gram.groupBy(id_col).agg(
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("_c")).alias(out_col)
    )


def gopher_quality_signals(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Per-document quality/repetition signals + pass/fail verdict.

    Columns: n_tokens, mean_word_len, symbol_word_ratio, top_unigram_frac,
    top_bigram_frac, passes_quality.  All ratios are int/int divisions in
    double — bit-identical across engines, so the whole output hash-checks
    against a SQL oracle.  A top-n-gram fraction is the count of the doc's
    most frequent word n-gram over its n-gram count (0.0 below n words).
    ``id_col`` is a unique key; rows with a NULL id are dropped.

    Thresholds are the Gopher shapes scaled to the fixture corpus:
    10 ≤ words ≤ 1000, 2 ≤ mean word length ≤ 12, symbol:word ≤ 0.3,
    top-unigram fraction ≤ 0.25, top-bigram fraction ≤ 0.18.
    """
    ntok = token_count(text_col)
    scalars = [
        ntok.alias("n_tokens"),
        # single-space text: non-space chars = length - (n_tokens - 1)
        F.when(ntok == 0, F.lit(0.0))
        .otherwise((F.length(text_col) - (ntok - F.lit(1))) / ntok)
        .alias("mean_word_len"),
        F.when(ntok == 0, F.lit(0.0))
        .otherwise(punct_count(text_col) / ntok)
        .alias("symbol_word_ratio"),
    ]
    # the scalars ride as grouping keys (they add no groups); they are
    # never NaN or -0.0, which grouping would normalize
    keys = [id_col, "n_tokens", "mean_word_len", "symbol_word_ratio"]
    tokens = fan_out_narrow(docs.where(F.col(id_col).isNotNull()), by=id_col).select(
        F.col(id_col), *scalars, F.split(F.col(text_col), " ").alias("__tk")
    )
    # positions 0..size-1 are the unigrams, size..2·size-2 the bigrams;
    # a doc with no tokens (NULL text) keeps one NULL row
    pos, size = F.col("__j"), F.size("__tk")
    positions = tokens.select(
        *keys, "__tk",
        F.explode_outer(F.when(size > 0, F.sequence(F.lit(0), 2 * size - 2))).alias("__j"),
    )
    n = F.when(pos < size, F.lit(1)).when(pos >= size, F.lit(2))
    start = F.when(pos < size, pos).otherwise(pos - size) + 1
    per_gram = positions.select(
        *keys,
        n.alias("__n"),
        # gram identity is all the count needs: hash the string so the
        # aggregates hold 8-byte ints
        F.xxhash64(F.array_join(F.slice("__tk", start, n), " ")).alias("__g"),
    ).groupBy(*keys, "__n", "__g").agg(F.count(F.lit(1)).alias("__c"))

    def top_fraction(k: int):
        c = F.when(F.col("__n") == k, F.col("__c"))
        return F.coalesce(F.max(c) / F.sum(c), F.lit(0.0))

    out = per_gram.groupBy(*keys).agg(
        top_fraction(1).alias("top_unigram_frac"),
        top_fraction(2).alias("top_bigram_frac"),
    )
    return out.withColumn(
        "passes_quality",
        (F.col("n_tokens").between(10, 1000))
        & (F.col("mean_word_len").between(2.0, 12.0))
        & (F.col("symbol_word_ratio") <= 0.3)
        & (F.col("top_unigram_frac") <= 0.25)
        & (F.col("top_bigram_frac") <= 0.18),
    )


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    classic CCNet-style "perplexity proxy" quality signal, with the LM
    fitted on the corpus itself instead of an external KenLM artifact.

    p(tok) = count(tok) / total_tokens over the whole corpus;
    per-document score = mean token negative log-likelihood
    ``avg(ln(total) - ln(count))`` rounded to 6 decimals (the rounding
    absorbs cross-libm ln() ulp differences vs the SQL oracle — the
    tfidf lesson, ADVICE r3).  Output: (id_col, n_tokens, avg_nll);
    higher avg_nll = rarer vocabulary.

    Scale design (100 TB): tokens join the count table through an
    ``xxhash64`` int64 key so both the vocabulary aggregation and the
    score join shuffle 8-byte keys; the total-token count stays a lazy
    1-row broadcast (BroadcastNestedLoopJoin of a scalar — bounded,
    shuffle-free; the registered query is listed in SCALAR_BNL_OK).
    Both aggregations have map-side partial combine; the per-doc reduce
    key is the unique doc id (no skew).  A Zipf-heavy token (stopwords)
    skews only the 8-byte count aggregation, which partial combine
    absorbs map-side — the score join itself is keyed (doc, token
    position) rows against a count table lookup, not row-multiplying.
    """
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).select(F.col(id_col), F.xxhash64("__tok").alias("__th"))
    cnt = tok.groupBy("__th").agg(F.count(F.lit(1)).alias("__c"))
    total = F.broadcast(cnt.agg(F.sum("__c").alias("__n")))
    return (
        tok.join(cnt, "__th")
        .crossJoin(total)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(F.col("__n").cast("double"))
                    - F.log(F.col("__c").cast("double"))
                ),
                6,
            ).alias("avg_nll"),
        )
    )


def bigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   k_smooth: float = 0.5) -> DataFrame:
    """Corpus-trained bigram LM score per document — the second-order
    sibling of ``unigram_logprob``: fluency, not just vocabulary
    rarity.  A doc of common words in an incoherent order scores fine
    under a unigram LM; the bigram conditional catches it.

    add-k smoothed conditional:  p(b|a) = (c(a,b) + k) / (c(a) + k·V)
    with V the corpus vocabulary size; per-document score =
    ``avg(-ln p(b|a))`` over its adjacent pairs, rounded to 6 (ln-ulp
    posture as unigram_logprob).  Docs shorter than 2 tokens have no
    bigrams and drop out.

    Scale design mirrors unigram_logprob: bigram and unigram count
    tables are keyed by ``xxhash64`` int64 keys (8/16-byte shuffles,
    never text); V and nothing else rides a 1-row broadcast
    (SCALAR_BNL_OK); all counts map-side combine.  The count joins run
    on PER-DOC-DISTINCT bigrams, not per-occurrence rows (VERDICT r9
    #5): grams pre-aggregate to (doc, bigram, n) first — the tf-table
    pattern tfidf uses — and the NLL is the n-weighted average, so a
    Zipf-hot bigram ("of the") crosses the join once per document that
    contains it instead of once per occurrence; the residual per-doc
    hot-key skew is bounded by doc count and rides AQE.  Output:
    (id_col, n_bigrams, avg_nll) — value-identical to the
    per-occurrence form (the weighted mean is the same mean; round-6
    absorbs the n·x vs x+…+x ulp).
    """
    # explode POSITIONS then element_at, not transform() over structs:
    # HOF lambdas fall out of whole-stage codegen (the contamination
    # module's 5× lesson) — measured 4.4 s → 0.5 s at sf0.1 on this
    # exact stage (BASELINE.md round 9)
    arr = F.split(F.col(text_col), " ")
    base = (
        docs.where(F.size(arr) >= 2)
        .select(F.col(id_col), arr.alias("__tk"))
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("__tk") - 1)).alias("__i"),
            "__tk",
        )
    )
    a = F.element_at(F.col("__tk"), F.col("__i"))
    b = F.element_at(F.col("__tk"), F.col("__i") + F.lit(1))
    grams = base.select(
        F.col(id_col),
        F.xxhash64(a).alias("__ha"),
        F.xxhash64(a, b).alias("__hab"),
    )
    # per-doc-distinct bigram occurrence counts: the ONLY table that
    # crosses the count joins (one row per (doc, bigram), not one per
    # occurrence)
    tf = grams.groupBy(id_col, "__hab", "__ha").agg(
        F.count(F.lit(1)).alias("__n")
    )
    uni = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    ).select(F.xxhash64("__tok").alias("__ha"))
    ucnt = uni.groupBy("__ha").agg(F.count(F.lit(1)).alias("__ca"))
    vocab = F.broadcast(
        ucnt.agg(F.count(F.lit(1)).alias("__v"))
    )
    # corpus bigram counts fold from tf (second-level combine), not
    # from the per-occurrence grams — same totals, smaller shuffle
    bcnt = tf.groupBy("__hab").agg(F.sum("__n").alias("__cab"))
    k = F.lit(float(k_smooth))
    p = (F.col("__cab") + k) / (
        F.col("__ca") + k * F.col("__v")
    )
    return (
        tf.join(bcnt, "__hab")
        .join(ucnt, "__ha")
        .crossJoin(vocab)
        .groupBy(id_col)
        .agg(
            F.sum("__n").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__n") * (-F.log(p))) / F.sum("__n"), 6
            ).alias("avg_nll"),
        )
    )


def kneser_ney_logprob(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document — the
    production-grade smoothing next to ``bigram_logprob``'s add-k
    (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.25, bigram order).
    This is the KenLM-family scoring CCNet-style pipelines actually
    rank documents with: the continuation probability rewards words
    that appear after MANY distinct contexts, so boilerplate whose
    tokens are frequent-but-context-locked ("click here") scores worse
    than under add-k.

        p_KN(b|a) = (max(c(ab) - d, 0)
                     + d · N1+(a·) · (N1+(·b) / N1+(··))) / c(a)

    with d the absolute discount, N1+(a·) the distinct continuations of
    ``a``, N1+(·b) the distinct left-contexts of ``b``, and N1+(··) the
    total bigram type count.  Every scored bigram comes from the
    training corpus itself so c(ab) ≥ 1 and no extra backoff case is
    needed; per-document score = n-weighted ``avg(-ln p)`` over its
    bigrams, rounded to 6 (the ln-ulp posture of the sibling scorers).
    Docs shorter than 2 tokens drop out.

    Scale design is bigram_logprob's exactly: grams ride as xxhash64
    int64 keys (8/16-byte shuffles, never text); the count joins run on
    PER-DOC-DISTINCT bigram rows (the tf-table pattern — a Zipf-hot
    bigram crosses the joins once per containing document, not once per
    occurrence); the two N1+ tables fold from the corpus bigram-type
    table (one row per distinct bigram — already bounded by vocab²,
    in practice by corpus novelty) with map-side combine; only the
    scalar N1+(··) rides a 1-row broadcast.  All double arithmetic is
    written in the exact association order the DuckDB oracle replays.

    KN hangs FIVE consumers off the gram chain (scoring join, corpus
    counts, two N1+ tables, the scalar total), and without
    materialization Catalyst re-executes the whole explode+aggregate
    subtree per branch — ~5 corpus passes (the round-11 PLANS.md dump
    made this visible).  Both shared tables therefore ride the
    ``_session_cache`` idiom: the tf table and the bigram-type table
    persist, cutting the plan to ONE gram pass + one token
    pass (measured 2x-3x cold at 20M tokens; bench tags these lines
    cache-registering and records them cold, the ADVICE r10 #1
    convention).  ``clear_band_cache()`` releases them.
    """
    from .dedup import _session_cache
    arr = F.split(F.col(text_col), " ")
    base = (
        docs.where(F.size(arr) >= 2)
        .select(F.col(id_col), arr.alias("__tk"))
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("__tk") - 1)).alias("__i"),
            "__tk",
        )
    )
    a = F.element_at(F.col("__tk"), F.col("__i"))
    b = F.element_at(F.col("__tk"), F.col("__i") + F.lit(1))
    grams = base.select(
        F.col(id_col),
        F.xxhash64(a).alias("__ha"),
        F.xxhash64(b).alias("__hb"),
        F.xxhash64(a, b).alias("__hab"),
    )
    tf = _session_cache(
        grams.groupBy(id_col, "__hab", "__ha", "__hb").agg(
            F.count(F.lit(1)).alias("__n")
        )
    )
    uni = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    ).select(F.xxhash64("__tok").alias("__ha"))
    ucnt = uni.groupBy("__ha").agg(F.count(F.lit(1)).alias("__ca"))
    # corpus bigram counts fold from tf keeping both endpoint keys —
    # one row per distinct bigram TYPE, the base for both N1+ tables
    bcnt = _session_cache(
        tf.groupBy("__hab", "__ha", "__hb").agg(
            F.sum("__n").alias("__cab")
        )
    )
    n1_fw = bcnt.groupBy("__ha").agg(
        F.count(F.lit(1)).alias("__n1f")
    )
    n1_bw = bcnt.groupBy("__hb").agg(
        F.count(F.lit(1)).alias("__n1b")
    )
    n1_all = F.broadcast(
        bcnt.agg(F.count(F.lit(1)).alias("__t"))
    )
    d = F.lit(float(discount))
    # association order mirrored verbatim in the SQL oracle
    p = (
        F.greatest(F.col("__cab") - d, F.lit(0.0))
        + d * F.col("__n1f") * (F.col("__n1b") / F.col("__t"))
    ) / F.col("__ca")
    return (
        tf.drop("__ha", "__hb")
        .join(bcnt, "__hab")
        .join(ucnt, "__ha")
        .join(n1_fw, "__ha")
        .join(n1_bw, "__hb")
        .crossJoin(n1_all)
        .groupBy(id_col)
        .agg(
            F.sum("__n").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__n") * (-F.log(p))) / F.sum("__n"), 6
            ).alias("avg_nll"),
        )
    )


def perplexity_buckets(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       group_col: str = "source",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020 §4.3):
    per ``group_col`` (web snapshot / domain / source), rank documents
    by LM score and split into equal terciles — head / middle / tail —
    the canonical step AFTER an LM scorer that decides what a pretrain
    mix keeps, downsamples, or drops.  Scoring uses the interpolated
    Kneser-Ney bigram scorer (``kneser_ney_logprob``), the KenLM-family
    smoothing CCNet itself uses.

    Bucket assignment is deterministic: ntile over (round-6 avg_nll,
    id) — both engines order the identical rounded doubles with a
    unique tie-break, and NTILE's extras-to-leading-groups split is the
    same standard semantic in Spark and DuckDB.  Docs with < 2 tokens
    have no bigram score and drop out (mirrored in the oracle join).

    Scale posture: the scorer is the dominant cost (see
    kneser_ney_logprob); bucketing adds ONE per-group sort — a window
    partitioned by source, so parallelism is bounded below by the
    number of sources and no global sort exists.  A Zipf-dominant
    source makes that partition a straggler; the remedy at 100 TB is
    the same as CCNet's own: split snapshots into shards upstream
    (finer group_col), not a different operator.  Output is one row
    per (group, bucket) — bounded by groups x n_buckets.
    """
    from pyspark.sql import Window

    scored = kneser_ney_logprob(docs, id_col, text_col).join(
        docs.select(id_col, group_col), id_col
    )
    w = Window.partitionBy(group_col).orderBy("avg_nll", id_col)
    labels = F.when(F.col("__b") == 1, F.lit("head")).otherwise(
        F.when(F.col("__b") == 2, F.lit("middle")).otherwise(F.lit("tail"))
    ) if n_buckets == 3 else F.concat(F.lit("b"), F.col("__b"))
    return (
        scored.withColumn("__b", F.ntile(n_buckets).over(w))
        .groupBy(group_col, labels.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("avg_nll"), 6).alias("min_nll"),
            F.round(F.max("avg_nll"), 6).alias("max_nll"),
            F.round(F.avg("avg_nll"), 6).alias("mean_nll"),
        )
    )


def char_entropy(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc Shannon entropy of the CHARACTER distribution (bits) —
    the cheapest gibberish/boilerplate detector in the quality family:
    natural language sits ~3.5–4.5 bits/char; base64 blobs, minified
    code, and key-mashing push past 5; single-char spam collapses
    toward 0. Used as a pre-filter band next to gopher signals.

    H(d) = −Σ_c (n_c/n) · log2(n_c/n) over the doc's characters —
    computed relationally: posexplode-free split to chars, one
    (doc, char) groupBy, one per-doc fold. Shuffles (doc_id, char)
    pairs — bounded by alphabet size per doc, not text length — and
    replays exactly in SQL.

    Output: (id, n_chars, n_distinct, entropy_bits), entropy rounded 6;
    empty docs surface with entropy 0.
    """
    chars = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("__c"),
    ).where(F.col("__c") != "")
    counts = chars.groupBy(id_col, "__c").agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = counts.groupBy(id_col).agg(
        F.sum("__n").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    p = F.col("__n") / F.col("n_chars")
    ent = counts.join(tot, id_col).groupBy(id_col).agg(
        F.first("n_chars").alias("n_chars"),
        F.first("n_distinct").alias("n_distinct"),
        F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
    )
    return docs.select(id_col).join(ent, id_col, "left").select(
        id_col,
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        F.coalesce("entropy_bits", F.lit(0.0)).alias("entropy_bits"),
    )
