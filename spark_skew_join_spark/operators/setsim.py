"""Exact set-similarity self-join with prefix filtering (AllPairs/PPJoin).

Finds every document pair whose *word-set* Jaccard similarity meets a
threshold — exactly, not approximately — without the all-pairs product.
This is the deterministic sibling of the MinHash/LSH path in
``operators/dedup.py``: LSH trades recall for speed; the prefix filter
keeps 100% recall and prunes with two classic inequalities instead
(Bayardo, Ma, Srikant, "Scaling Up All Pairs Similarity Search",
WWW 2007; Xiao et al., PPJoin, WWW 2008):

* **length filter** — Jaccard(A, B) >= t implies
  t * |B| <= |A| <= |B| / t, so wildly different-sized sets never pair.
* **prefix filter** — order every set by one global token ordering
  (ascending document frequency, ties by token, so the *rarest* tokens
  come first). If Jaccard(A, B) >= t then |A ∩ B| >= α =
  ceil(t/(1+t) * (|A| + |B|)), and two sets meeting that overlap must
  share at least one token within their first ``|X| - α + 1`` tokens.
  Sides are size-canonical (A the smaller set, ties by id), which
  sharpens the bound asymmetrically (PPJoin §3): the smaller side
  explodes only ``|A| - ceil(2t/(1+t) * |A|) + 1`` tokens (α >=
  2t/(1+t)·|A| because |B| >= |A|), the larger side
  ``|B| - ceil(t * |B|) + 1`` (α >= t·|B| because |A| >= t·|B|). Only
  those short, rare-token prefixes are exploded and equi-joined, so
  the hot stop-words that make a naive token join quadratic never
  enter the candidate index.
* **positional filter** (PPJoin) — a generated pair knows WHERE in
  each prefix the shared token sits (positions i in A, j in B under
  the common global order); the overlap can be at most
  ``1 + min(|A| - i, |B| - j)``, so generations whose bound falls
  below α are dropped BEFORE the candidate distinct. Applied per
  generation (a pair survives if any shared prefix token qualifies —
  a superset of PPJoin's first-common-token rule, so recall stays
  100%).

Candidates surviving the filters are verified with an exact
``array_intersect`` on the full (distinct) token arrays.

Scale shape (100 TB posture)
----------------------------
Everything is equi-join + groupBy — no cartesian, no Python UDFs:

* tokens are hashed to int64 (``xxhash64``) right after tokenization —
  the df groupBy, the candidate equi-join, and the verify arrays all
  move 8-byte ints, never gram strings (the ``operators/dedup.py``
  shingle pattern). Equal grams always hash equal, so recall stays
  100%; a cross-gram collision (~n²/2⁶⁴) could merge two tokens, the
  same (negligible) caveat the hashed-shingle dedup family carries;
* the hashed (doc, token) set is session-cached: it feeds both the df
  aggregation and the per-doc array build, and without the cache Spark
  re-runs the tokenize+hash+distinct subtree once per consumer
  (VERDICT r11 #3 — the "second tokenize pass");
* token df counts: one map-side-combined groupBy over (doc, token);
* the per-doc ordered array is built by ``sort_array(collect_list)``
  *per doc id* — there is no global window, the global ordering is
  encoded in the (df, token-hash) sort key itself, so ordering work is
  distributed across doc groups;
* the per-doc ordered array is consumed three times in one plan (prefix
  explode + both verify sides), so it is session-cached through the
  dedup family's ``_session_cache`` (a persist, released by
  ``clear_band_cache``) instead of being recomputed per
  consumer;
* the candidate join shuffles only prefix token hashes (a few rare
  grams per doc); the verify join ships hash arrays for candidate
  pairs only.

The reference library (anish749/spark-skew-join, Utils.scala:92-121)
diagnoses hot join keys with a CMS; the prefix filter is the same idea
turned inside out — hot tokens are *structurally excluded* from the
join index by the rarest-first ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def word_ngrams(
    docs: DataFrame,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct lowercase word n-gram tokens per document: (id, token).

    Documents in this corpus are single-space separated; the split is a
    plain ``split(lower(text), ' ')`` so a SQL oracle can reproduce it
    byte-for-byte (``string_split`` in DuckDB). ``n > 1`` shingles
    adjacent words joined by one space — on a small-vocabulary corpus
    single words are near-universal (every doc shares most of them) and
    word *pairs* are what discriminates.
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
    )
    words = docs.select(
        F.col(id_col).alias("_ss_id"), arr.alias("_ss_arr")
    )
    arr_c = F.col("_ss_arr")
    if n == 1:
        grams = F.array_distinct(arr_c)
    else:
        grams = F.when(
            F.size(arr_c) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(arr_c) - F.lit(n - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(arr_c, i + F.lit(k)) for k in range(n)],
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
    return words.select("_ss_id", F.explode(grams).alias("token"))


def set_similarity_join(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    cache_ordered: bool = True,
) -> DataFrame:
    """All pairs with word-n-gram-set Jaccard >= ``threshold``.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.
    Tokens are xxhash64-hashed before any shuffle (VERDICT r7 #2);
    ``cache_ordered`` session-caches the thrice-consumed per-doc
    ordered array (release with ``operators.dedup.clear_band_cache``).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = F.lit(float(threshold))
    tv = float(threshold)

    # 8-byte token hashes from here on — the gram STRING never shuffles
    tok = word_ngrams(docs, ngram, id_col, text_col).select(
        "_ss_id", F.xxhash64("token").alias("token")
    )
    if cache_ordered:
        from .dedup import _session_cache

        # tok feeds BOTH the df aggregation and the array build —
        # uncached, Spark runs the tokenize+hash+distinct subtree twice
        tok = _session_cache(tok)
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    # Per-doc token array sorted by the global (df asc, hash asc) order.
    # sort_array over structs sorts field-by-field, so the rarest tokens
    # land first without any global window; any consistent total order
    # on tokens preserves the prefix-filter guarantee.
    ordered = (
        tok.join(dfreq, "token")
        .groupBy("_ss_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("tokens"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    if cache_ordered:
        ordered = _session_cache(ordered)

    # size-canonical asymmetric prefixes (PPJoin): the a-role (smaller
    # set, ties by id) explodes |x| - ceil(2t/(1+t)·|x|) + 1 tokens,
    # the b-role |x| - ceil(t·|x|) + 1; positions ride along for the
    # positional filter (1-based within the full ordered array)
    # Recall-safety (ADVICE r12): the derived ratios 2t/(1+t) and
    # t/(1+t) are double-rounded, so a bare F.ceil can overshoot the
    # exact rational bound by 1 for some (threshold, size) pairs
    # (e.g. t=0.015, na+nb=1015 → alpha 16 vs exact 15), silently
    # dropping true pairs before exact verification. Subtract a small
    # epsilon before every pruning ceil: undershoot only ADDS
    # candidates, which the exact-Jaccard verify stage removes. The
    # epsilon (1e-6) dominates the relative double error for any
    # realistic set size (n ≤ 1e9 → rel err ≤ ~2e-7) while staying
    # far below 1, so bounds loosen by at most one token.
    _EPS = F.lit(1e-6)
    short_len = (
        F.col("n")
        - F.ceil(F.lit(2.0 * tv / (1.0 + tv)) * F.col("n") - _EPS)
        + F.lit(1)
    ).cast("int")
    long_len = (
        F.col("n") - F.ceil(t * F.col("n") - _EPS) + F.lit(1)
    ).cast("int")
    pa = ordered.select(
        F.col("_ss_id").alias("id_a"),
        F.col("n").alias("na"),
        F.posexplode(F.slice("tokens", F.lit(1), short_len)).alias(
            "__ia", "token"
        ),
    )
    pb = ordered.select(
        F.col("_ss_id").alias("id_b"),
        F.col("n").alias("nb"),
        F.posexplode(F.slice("tokens", F.lit(1), long_len)).alias(
            "__jb", "token"
        ),
    )
    # minimum required overlap α = ceil(t/(1+t)·(na+nb)), epsilon-
    # guarded against double-rounding overshoot (see _EPS note above)
    alpha = F.ceil(
        F.lit(tv / (1.0 + tv)) * (F.col("na") + F.col("nb")) - _EPS
    )
    canonical = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b"))
    )
    cand = (
        pa.join(pb, "token")
        .where(canonical)
        # length filter (na <= nb canonically, so one direction suffices)
        .where(F.col("na") >= F.ceil(t * F.col("nb") - _EPS))
        # positional filter: overlap can't exceed what's left after the
        # shared token's position on each side
        .where(
            F.lit(1)
            + F.least(
                F.col("na") - (F.col("__ia") + F.lit(1)),
                F.col("nb") - (F.col("__jb") + F.lit(1)),
            )
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )

    ta = ordered.select(
        F.col("_ss_id").alias("id_a"),
        F.col("tokens").alias("toks_a"),
        F.col("n").alias("size_a"),
    )
    tb = ordered.select(
        F.col("_ss_id").alias("id_b"),
        F.col("tokens").alias("toks_b"),
        F.col("n").alias("size_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jacc = inter.cast("double") / (
        F.col("size_a") + F.col("size_b") - inter
    )
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("inter"),
            F.col("size_a").cast("bigint").alias("size_a"),
            F.col("size_b").cast("bigint").alias("size_b"),
            jacc.alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
    )
    # canonical roles order by SIZE; re-orient the output to id_a < id_b
    swap = F.col("id_a") > F.col("id_b")
    return verified.select(
        F.when(swap, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
        F.when(swap, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
        "inter",
        F.when(swap, F.col("size_b")).otherwise(F.col("size_a")).alias("size_a"),
        F.when(swap, F.col("size_a")).otherwise(F.col("size_b")).alias("size_b"),
        "jaccard",
    )
