"""Incremental deduplication: new data against a persisted corpus state.

A 100 TB pipeline never re-deduplicates its whole history when a new
crawl lands — it keeps a compact *store* (16-byte exact fingerprints;
MinHash band buckets) and checks only the new batch against it.  These
operators provide that increment for the exact and fuzzy families:

* ``fingerprint_store`` — the persistable exact-dup state: one
  (fp, rep_id) row per distinct historical text (16-byte md5 keys, the
  same shuffle posture as exact_dedup).
* ``incremental_exact_dedup`` — classify each NEW document against the
  store AND within its own batch (a batch can self-duplicate), without
  touching historical documents.  Appending the returned surviving
  fingerprints to the store is the state update.
* ``incremental_minhash_dups`` — fuzzy increment: band-bucket the new
  batch's MinHash signatures against the HISTORICAL band table only
  (new × history, never history × history), verify candidates with
  exact Jaccard over the candidate documents' shingles.  History is
  touched only where a band matches.

Scale design (100 TB):
* the store join is an equi-join on 16-byte keys; the new batch is the
  small side and broadcasts (AQE) — history fingerprints never
  re-shuffle when the batch is small.
* the fuzzy increment joins band tables (id, band, bucket — 20-byte
  rows): history's band table is the persisted artifact (built once per
  epoch, appended like the store); per-bucket fan-out is bounded by
  ``max_bucket_size`` exactly as in ``minhash_pairs``.
* document ids must be globally unique across history and batch (the
  verify stage unions their shingle tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import fingerprint
from .dedup import jaccard_for_pairs, minhash_signatures, shingles


def fingerprint_store(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(fp, rep_id): one row per distinct historical text."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("rep_id"))
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Classify each new document against the store and its own batch.

    Output per new document: (id, fp, hist_rep, batch_rep, is_new) —
    ``hist_rep`` is the historical representative id when the exact
    text already exists in the store (NULL otherwise), ``batch_rep``
    the smallest same-text id within the batch, and ``is_new`` is true
    iff the document is the batch representative of a text absent from
    history (exactly the rows whose (fp, id) should be appended to the
    store)."""
    fps = new_docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    w = Window.partitionBy("fp")
    batch = fps.withColumn("batch_rep", F.min(id_col).over(w))
    hist = store.select("fp", F.col("rep_id").alias("hist_rep"))
    return (
        batch.join(hist, on="fp", how="left")
        .select(
            id_col,
            "fp",
            "hist_rep",
            "batch_rep",
            (
                F.col("hist_rep").isNull()
                & (F.col("batch_rep") == F.col(id_col))
            ).alias("is_new"),
        )
    )


def compact_fingerprint_store(
    store: DataFrame,
    classified: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The state update ``incremental_exact_dedup`` leaves to the caller
    (VERDICT r5 missing #2): fold a classified batch back into the
    fingerprint store as the next epoch's artifact.

    Appends the batch's ``is_new`` rows (fp, rep_id = the batch
    representative) and re-groups by fp with min(rep_id) — so the
    operation is IDEMPOTENT under redelivery (re-appending the same
    batch, or a batch that raced another writer, collapses to one row
    per fp with the smallest representative).  Round-trip identity
    (pinned in tests/test_incremental.py): when batch ids exceed
    history ids, compact(store(H), classify(B, store(H))) ≡
    fingerprint_store(H ∪ B) exactly."""
    new_rows = classified.where(F.col("is_new")).select(
        "fp", F.col(id_col).alias("rep_id")
    )
    return (
        store.unionByName(new_rows)
        .groupBy("fp")
        .agg(F.min("rep_id").alias("rep_id"))
    )


def compact_band_table(
    hist_bands: DataFrame,
    new_bands: DataFrame,
) -> DataFrame:
    """Fuzzy-state epoch merge: union the batch's band table into the
    persisted historical band table, distinct on (id, band, bucket) so
    redelivered batches are idempotent.  The result is the
    ``hist_bands`` input of the NEXT ``incremental_minhash_dups`` call
    — history documents are never re-signatured."""
    return hist_bands.unionByName(new_bands).distinct()


def band_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_perm: int = 32,
    n_bands: int = 8,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket): the persistable LSH state — same banding as
    ``minhash_pairs`` (bucket = xxhash64 over the band's signature
    slice), so stores built by either are interchangeable."""
    r = num_perm // n_bands
    sig = minhash_signatures(docs, text_col, id_col, n, num_perm, shingle_df)
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * r + i] for i in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def incremental_minhash_dups(
    new_docs: DataFrame,
    hist_docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_perm: int = 32,
    n_bands: int = 8,
    max_bucket_size: int | None = 1000,
    hist_bands: DataFrame | None = None,
    shingle_df: DataFrame | None = None,
    check_coverage: bool = True,
) -> DataFrame:
    """Near-duplicates of the new batch AGAINST HISTORY only.

    Output: (hist_id, new_id, inter, size_hist, size_new, jaccard) for
    candidate pairs with exact Jaccard >= threshold.  Pass
    ``hist_bands`` (a persisted ``band_table``) to skip rebuilding the
    historical state — the intended incremental use; ``hist_docs`` is
    then only scanned for the shingles of verify-stage candidates.

    ``shingle_df`` (r14): an already-built (id, shingle) set covering
    BOTH sides at the same ``n`` (e.g. the dedup family's persisted
    corpus table) — per-side slices are derived by id semi-joins, so
    the corpus is not re-tokenized here at all (guide §1.2: don't
    recompute what a shared pass already produced). Shingle sets per
    doc are identical to the rebuilt form (row filters commute with the
    per-doc explode), so the output is unchanged."""
    sh_new = sh_hist = None
    if shingle_df is not None:
        if check_coverage:
            # ADVICE r14 #3: a shingle_df that does not cover new_docs
            # (a shared corpus table plus a genuinely NEW batch) would
            # silently give the new side zero shingles and return "no
            # duplicates". Guard: every new doc that WOULD produce
            # shingles (length >= n — the shingles() emptiness
            # condition) must appear in shingle_df. One cheap
            # anti-join limit(1) action against the (typically
            # checkpointed) shared table.
            # distinct the (id) projection BEFORE the anti-join: the
            # raw shingle table is corpus x shingles rows, and an
            # anti-join builds/sorts the RIGHT side — distinct first
            # collapses it to one row per doc (map-side combine), so
            # the anti-join broadcasts
            missing = (
                new_docs.where(F.length(text_col) >= n)
                .select(id_col)
                .join(
                    shingle_df.select(id_col).distinct(),
                    on=id_col,
                    how="left_anti",
                )
                .limit(1)
                .count()
            )
            if missing:
                raise ValueError(
                    "shingle_df does not cover new_docs: at least one "
                    f"new doc with length >= n={n} has no shingles in "
                    "the shared table — rebuild it over both sides or "
                    "pass check_coverage=False for a table known to "
                    "cover by construction"
                )
        sh_new = shingle_df.join(
            new_docs.select(id_col), on=id_col, how="left_semi"
        )
        sh_hist = shingle_df.join(
            hist_docs.select(id_col), on=id_col, how="left_semi"
        )
    nb = band_table(
        new_docs, text_col, id_col, n, num_perm, n_bands, shingle_df=sh_new
    )
    hb = (
        hist_bands
        if hist_bands is not None
        else band_table(
            hist_docs, text_col, id_col, n, num_perm, n_bands,
            shingle_df=sh_hist,
        )
    )
    if max_bucket_size is not None:
        # cap the HISTORICAL side's buckets: a degenerate boilerplate
        # bucket otherwise fans every matching new doc out x bucket
        hot = (
            hb.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .where(F.col("__bn") > max_bucket_size)
            .select("band", "bucket")
        )
        hb = hb.join(F.broadcast(hot), on=["band", "bucket"], how="left_anti")
    cand = (
        hb.select("band", "bucket", F.col(id_col).alias("id_a"))
        .join(
            nb.select("band", "bucket", F.col(id_col).alias("id_b")),
            on=["band", "bucket"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # shingle ONLY candidate history documents — the semi-join runs on the
    # raw docs BEFORE the shingle explode (Catalyst does not push a join
    # through Generate, so pruning here is what keeps the verify stage's
    # history scan proportional to band matches, not history size)
    hist_cand = hist_docs.join(
        cand.select(F.col("id_a").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    )
    if shingle_df is not None:
        # jaccard_for_pairs joins its shingle input to the pair ids
        # itself — the full shared table is safe to pass verbatim
        sh = shingle_df
    else:
        sh = shingles(hist_cand, text_col, id_col, n).unionByName(
            shingles(new_docs, text_col, id_col, n)
        )
    verified = jaccard_for_pairs(cand, sh, id_col)
    return (
        verified.where(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("hist_id"),
            F.col("id_b").alias("new_id"),
            "inter",
            F.col("size_a").alias("size_hist"),
            F.col("size_b").alias("size_new"),
            "jaccard",
        )
    )
