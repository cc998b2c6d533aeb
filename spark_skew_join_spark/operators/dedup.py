"""Deduplication operators over document tables (LLM-pipeline extension).

Exact dedup is a hash-groupBy (md5 fingerprint → min-id representative),
oracle-checkable in ANSI SQL. Near-dup comes in three flavors:

* ``ngram_jaccard_pairs`` — *exact* n-gram Jaccard over character shingles,
  as explode → equi-join on shingle → |intersection| / |union|. Fully
  SQL-expressible, so it serves as the hash-checked oracle for the fuzzy
  family. Scale: the shingle join is the classic hot-token skew case —
  document frequency of a shingle bounds its join fan-out; very frequent
  shingles can be dropped like stopwords (``max_shingle_df``).
* ``minhash_pairs`` — MinHash+LSH banding: per-doc signature via codegen
  hash functions (xxhash64 with seed = permutation index), band → bucket →
  candidate pairs → exact Jaccard verify. The verify fans each candidate
  pair out to its two docs' shingles and counts, per pair, |S_a| + |S_b|
  and |S_a ∪ S_b| (cost: |S_a| + |S_b| shingles per candidate pair; no
  join keyed on shingle). It needs the shingle input to hold distinct
  (id, shingle) rows per doc, as ``shingles`` builds it. No Python
  anywhere on the path.
* ``simhash_pairs`` — 64-bit SimHash over shingle hashes; near-dups share
  band-chunks of the fingerprint.
* ``embedding_near_dup`` — cosine >= threshold pairs over an embedding
  column (delegates to the similarity module's machinery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import fingerprint

# LSH band/signature DataFrames are consumed ~5× inside one plan (bucket
# stats, cap anti-join, both self-join sides, star pairs); without a persist
# each consumer re-runs the projection/signature shuffle — measured 3.5×
# slower at sf0.1. The operators cache them here, in one ledger;
# ``clear_band_cache`` (also called by queries.clear_dedup_cache) releases
# the blocks, and ``cache_snapshot``/``entries_since``/``release_entries``
# release the entries registered within one scope.
_CACHED_BANDS: list[DataFrame] = []


def _release_df(df: DataFrame) -> None:
    """Release whatever blocks ``df`` holds: unpersist a cached frame,
    and if it is a localCheckpoint (LogicalRDD plan) unpersist the
    wrapped RDD too — ``DataFrame.unpersist`` alone is a no-op for
    checkpoints (the blocks belong to the RDD, not the CacheManager)."""
    try:
        df.unpersist()
    except Exception:  # session already stopped — nothing to release
        pass
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # not a LogicalRDD plan (plain persist) — done above
        pass


def register_ckpt(df: DataFrame) -> DataFrame:
    """Register an ALREADY-localCheckpointed frame in the session-cache
    ledger (released via release_entries / clear_band_cache, which
    unpersist the wrapped RDD). A checkpoint entry is the ledger entry
    with ``not df.is_cached``. RELEASE IS ONE-WAY: a localCheckpoint's
    lineage is truncated, so a released frame can never be re-executed
    (ADVICE r14 #1) — callers must fully consume the result before any
    ledger release; tests/test_ckpt_invariant.py pins that no non-EAGER
    registry query registers a ckpt entry, so a caller may release a
    lazy query's entries and re-run the same plan."""
    _CACHED_BANDS.append(df)
    return df


def _session_cache(df: DataFrame, mode=True) -> DataFrame:
    """Cache ``df`` in the band ledger: ``True`` persists it in executor
    memory/disk, ``"ckpt"`` localCheckpoints it eagerly. Any other mode
    raises ``ValueError``."""
    if mode == "ckpt":
        # eager localCheckpoint: unlike persist, this truncates the
        # LOGICAL plan to a LogicalRDD leaf, so every later action over
        # the result analyzes a constant-size plan instead of
        # re-analyzing the full upstream tree (the connected-components
        # lesson, cluster.py — persist substitutes cached blocks only
        # AFTER analysis). Registered in the same ledger; release goes
        # through _release_df which also unpersists the checkpoint RDD.
        # Release is ONE-WAY (see register_ckpt).
        return register_ckpt(df.localCheckpoint())
    if mode is not True:
        raise ValueError(f"cache mode must be True or 'ckpt', got {mode!r}")
    df = df.persist()
    _CACHED_BANDS.append(df)
    return df


# The ledger API keeps a two-slot shape, (band frames, spill tables), for
# perfbench's harness, which compares ``cache_snapshot`` values and
# releases ``entries_since`` through ``release_entries(bands, spills)``.
# The band cache has no spill mode, so the second slot is always empty.


def cache_snapshot() -> tuple[int, int]:
    """Current length of the band ledger, as a two-slot snapshot — pair
    with ``entries_since`` / ``release_entries`` for scoped release
    (VERDICT r11 #1a)."""
    return (len(_CACHED_BANDS), 0)


def entries_since(snap: tuple[int, int]) -> tuple[list, list]:
    """Band DataFrames registered after ``snap`` (a ``cache_snapshot``
    value), and an empty spill list."""
    return list(_CACHED_BANDS[snap[0]:]), []


def _unregister(bands: list) -> None:
    """Remove the given frames from the ledger without releasing them —
    their new owner releases them (identity-based — DataFrame __eq__
    builds a Column, so list.remove is unusable here)."""
    band_ids = {id(b) for b in bands}
    _CACHED_BANDS[:] = [b for b in _CACHED_BANDS if id(b) not in band_ids]


def release_entries(bands: list, spills: list = ()) -> None:
    """Release the given band frames and remove them from the ledger
    (``spills`` is the always-empty second slot of ``entries_since``)."""
    for df in bands:
        _release_df(df)
    _unregister(bands)


def clear_band_cache() -> None:
    """Release every operator-cached band/signature DataFrame
    (idempotent)."""
    release_entries(list(_CACHED_BANDS))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One representative (min id) per distinct text; dup_count for audit.

    Output: (rep_id, fp, dup_count). groupBy on the 128-bit md5 fingerprint,
    not the raw text — at 100 TB the shuffle moves 16-byte keys, not
    documents."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("rep_id", "fp", "dup_count")
    )


def dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The rows of ``df`` that survive exact dedup (min-id representative)."""
    reps = exact_dedup(df, text_col, id_col).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(reps, on=id_col, how="left_semi")


def shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Distinct character n-gram shingles per doc: (id, shingle BIGINT).

    Built with sequence+explode — pure codegen, no UDF. The shingle is
    ``xxhash64`` of the n-char substring, hashed BEFORE the distinct: the
    dedup family's shuffles (this distinct, the intersection equi-join,
    32 signature hashes per shingle) then move/handle 8-byte ints instead
    of n-char strings — same trick as the contamination module, measured
    ~25% on the sf0.1 distinct and more on the signature build. Every
    consumer (Jaccard counts, MinHash, SimHash) only needs equality or
    hashes of the shingle, never the text itself. An xxhash64 collision
    merging two distinct shingles is the usual negligible trade
    (P ≈ d²/2⁶⁴; the SQL oracles shingle on the raw substring, so the
    driver gate would surface one as a count mismatch)."""
    from ..sources.tables import fan_out_narrow

    t = F.col("__t")
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length(t) - n + 1, F.lit(1)))
    ).alias("pos")
    out = (
        # a narrow (single-row-group) scan serializes the explode+hash
        # partial aggregate onto one core; fan out first (no-op at
        # production partition counts — measured 8.8 s -> ~2 s on the
        # family's sf0.1 materialization); by id, so the distinct needs
        # no second shuffle
        fan_out_narrow(df.select(id_col, F.col(text_col).alias("__t")), by=id_col)
        .select(id_col, "__t", pos)
        .where(F.length("__t") >= n)
        .select(
            id_col,
            F.xxhash64(
                F.substring(F.col("__t"), F.col("pos").cast("int"), n)
            ).alias("shingle"),
        )
        .distinct()
    )
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_shingle_df: int | None = None,
    cache_shingles: bool = True,
    shingle_df: DataFrame | None = None,
    skew_conf=None,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b): |S_a ∩ S_b| / |S_a ∪ S_b| >= t.

    Output: (id_a, id_b, inter, size_a, size_b) + jaccard. The shingle
    equi-join shuffles on the shingle value — set ``max_shingle_df`` to drop
    stop-shingles (bounded fan-out at scale). A shingle that is frequent but
    under the drop cap is exactly the hot-join-key case: pass ``skew_conf``
    (a ``SkewJoinConf``) to run the intersection build through ``skew_join``,
    fragmenting hot shingles across partitions instead of concentrating
    them on one reducer (output is identical — skew_join is
    equivalence-exact by construction).

    ``cache_shingles`` persists the exploded shingle set, which this plan
    reads three times (df-filter, both join sides) — 2.3x faster at sf0.1.
    Pass ``shingle_df`` (an already-persisted (id, shingle) set as built by
    ``shingles``) to share one materialization across the dedup family; the
    caller then owns the cache lifetime and ``cache_shingles`` is ignored.
    At 100 TB prefer a pre-materialized shingle table over executor memory."""
    if shingle_df is not None:
        sh = shingle_df
    else:
        sh = shingles(df, text_col, id_col, n)
        if cache_shingles:
            sh = sh.persist()
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .count()
            .where(F.col("count") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, on="shingle", how="left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if skew_conf is not None:
        from .skew_join import skew_join

        joined = skew_join(a, b, "shingle", "inner", skew_conf)
    else:
        joined = a.join(b, on="shingle")
    inter = (
        joined.where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("size").alias("size_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("size").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


def jaccard_for_pairs(
    pairs: DataFrame, sh: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact n-gram Jaccard for a given pair list only.

    ``pairs``: distinct (id_a, id_b) rows; ``sh``: (id, shingle) as built
    by ``shingles``. Output: (id_a, id_b, inter, size_a, size_b,
    jaccard) — pairs with zero shingle overlap are absent (their Jaccard
    is 0).

    Each pair is exploded to its two doc ids, with the position saying
    which side an id is, and joined to the shingle table on id, then
    grouped per pair: count = |S_a| + |S_b|, the position-0 rows give
    |S_a|, and size(collect_set) = |S_a ∪ S_b|, so
    |S_a ∩ S_b| = count − |S_a ∪ S_b|. No join is keyed on ``shingle``,
    and a self-pair (id_a = id_b) counts each side once. Cost: each pair
    moves |S_a| + |S_b| shingles into its group, O(candidate shingles),
    NOT O(n²). The join to the shingle table is keyed on doc id, and
    while the exploded pair list is small AQE broadcasts it, so the
    shingle table is scanned to probe the candidate ids but not
    shuffled. The count is |S_a| + |S_b| only because ``sh`` holds
    distinct (id, shingle) rows per document, as ``shingles`` builds
    it; that is the input contract."""
    n = F.col("__n")
    union = F.col("__union")
    inter = n - union
    return (
        pairs.select(
            "id_a", "id_b",
            F.posexplode(F.array("id_a", "id_b")).alias("__pos", id_col),
        )
        .join(sh, on=id_col)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_if(F.col("__pos") == 0).alias("size_a"),
            F.size(F.collect_set("shingle")).alias("__union"),
        )
        .where(inter > 0)
        .select(
            "id_a", "id_b",
            inter.alias("inter"),
            "size_a",
            (n - F.col("size_a")).alias("size_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_shingle_df: int | None = None,
    shingle_df: DataFrame | None = None,
    cache_shingles: bool = True,
) -> DataFrame:
    """Directed near-superset pairs: C(inner→outer) = |S_i ∩ S_o| / |S_i| ≥ t.

    Containment is the asymmetric sibling of Jaccard: it flags a document
    whose shingle set is (nearly) contained in another's — the
    boilerplate-expansion / quoted-subdocument case that Jaccard misses when
    the outer document is much larger (J = |∩|/|∪| shrinks with |S_o| while
    C(inner→outer) stays at 1). This is the "substring/superset duplicate"
    family from the public training-data dedup literature (e.g. Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better").

    Output: (inner_id, outer_id, inter, size_inner, size_outer, containment)
    for inner_id != outer_id — directed, so a ⊂ b and b ⊂ a are separate
    rows.  Both directions appear whenever BOTH containments meet the
    threshold (inter ≥ t·max(size_a, size_b) suffices — e.g. sizes 10/10
    with inter 8 at t=0.6); the sets need only be equal at t = 1.0.

    Scale notes: identical shape to ``ngram_jaccard_pairs`` — one shingle
    equi-join bounded by ``max_shingle_df``; the intersection is computed
    once per unordered pair (id_a < id_b) and mirrored into both directions
    afterwards, so the join/aggregate cost is the same as the Jaccard pass.
    Like its sibling this is the exact all-pairs oracle; the scale path is
    LSH candidates + ``containment_for_pairs`` verification.
    """
    if shingle_df is not None:
        sh = shingle_df
    else:
        sh = shingles(df, text_col, id_col, n)
        if cache_shingles:
            sh = sh.persist()
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .count()
            .where(F.col("count") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, on="shingle", how="left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("size").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("size").alias("size_b")),
            "id_b",
        )
    )
    directed = inter.select(
        F.col("id_a").alias("inner_id"),
        F.col("id_b").alias("outer_id"),
        "inter",
        F.col("size_a").alias("size_inner"),
        F.col("size_b").alias("size_outer"),
    ).unionByName(
        inter.select(
            F.col("id_b").alias("inner_id"),
            F.col("id_a").alias("outer_id"),
            "inter",
            F.col("size_b").alias("size_inner"),
            F.col("size_a").alias("size_outer"),
        )
    )
    return (
        directed.withColumn(
            "containment",
            F.col("inter").cast("double") / F.col("size_inner"),
        )
        .where(F.col("containment") >= threshold)
        .select(
            "inner_id", "outer_id", "inter", "size_inner", "size_outer", "containment"
        )
    )


def containment_for_pairs(
    pairs: DataFrame, sh: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Directed containment for a candidate pair list only (the scale path).

    ``pairs``: distinct (id_a, id_b) unordered candidates (e.g. from MinHash/LSH
    banding — containment ≥ t implies Jaccard ≥ t·|S_i|/(|S_i|+|S_o|), so
    a band pass at a lowered threshold generates the candidates);
    ``sh``: (id, shingle). Output mirrors ``ngram_containment_pairs`` but
    costs O(candidate shingles), not O(n²) — same candidate-scoped shape as
    ``jaccard_for_pairs``."""
    j = jaccard_for_pairs(pairs, sh, id_col)
    directed = j.select(
        F.col("id_a").alias("inner_id"),
        F.col("id_b").alias("outer_id"),
        "inter",
        F.col("size_a").alias("size_inner"),
        F.col("size_b").alias("size_outer"),
    ).unionByName(
        j.select(
            F.col("id_b").alias("inner_id"),
            F.col("id_a").alias("outer_id"),
            "inter",
            F.col("size_b").alias("size_inner"),
            F.col("size_a").alias("size_outer"),
        )
    )
    return directed.withColumn(
        "containment", F.col("inter").cast("double") / F.col("size_inner")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_perm: int = 32,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<bigint>) — sig[i] = min over shingles of
    xxhash64(shingle, seed=i). Signature build is groupBy(min) over the
    shingle explode — fully JVM-side. Pass ``shingle_df`` to reuse an
    already-built (persisted) shingle set."""
    sh = shingle_df if shingle_df is not None else shingles(df, text_col, id_col, n)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    wide = sh.groupBy(id_col).agg(*aggs)
    return wide.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def band_bucket_cap(
    bands: DataFrame, id_col: str, bucket_cols: list[str], cap: int
) -> tuple[DataFrame, DataFrame]:
    """Split LSH band buckets at ``cap`` members (hot-bucket skew guard).

    A degenerate bucket (boilerplate/near-constant content hashing every
    member to the same band value) makes the band self-join quadratic in
    that bucket. Buckets at/below the cap keep all-pairs duty; over-cap
    buckets contribute a linear *star* instead — (anchor=min id → member)
    pairs — which bounds candidates at O(bucket) while preserving
    connectivity for downstream clustering (every member still reaches the
    anchor; transitive closure recovers the clique). Pairwise-enumeration
    recall inside an over-cap bucket is reduced to the star unless another
    band recovers the pair — the documented trade for bounded fan-out.

    Returns (kept_bands, star_pairs[id_a, id_b]); the over-cap bucket list
    is tiny by construction (≤ rows/cap entries) and broadcast."""
    stats = bands.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("__bn"), F.min(id_col).alias("__anchor")
    )
    big = stats.where(F.col("__bn") > cap)
    kept = bands.join(
        F.broadcast(big.select(*bucket_cols)), on=bucket_cols, how="left_anti"
    )
    star = (
        bands.join(F.broadcast(big), on=bucket_cols)
        .where(F.col(id_col) != F.col("__anchor"))
        .select(F.col("__anchor").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return kept, star


def minhash_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_perm: int = 32,
    n_bands: int = 8,
    shingle_df: DataFrame | None = None,
    max_bucket_size: int | None = 1000,
    cache_bands: bool | str = True,
    sig_prefilter_margin: float | None = 0.3,
) -> DataFrame:
    """LSH-banded candidate pairs verified by exact Jaccard.

    Bands of r = num_perm/n_bands hashes; docs colliding in >= 1 band are
    candidates (P[collide] = 1-(1-s^r)^b); ONLY those candidates are then
    verified with exact n-gram Jaccard — the verify never materializes
    the all-pairs Jaccard table, which is the quadratic job LSH exists
    to avoid. Output: (id_a, id_b, jaccard), pairs with no shared
    shingle left out (as in ``jaccard_for_pairs``).

    The verify is ``jaccard_for_pairs`` over the distinct candidate
    pairs: one join to the shingle table keyed on doc id and one
    per-pair aggregate, with no join keyed on ``shingle``; the pair list
    is read once.

    ``max_bucket_size`` caps band-bucket fan-out (see ``band_bucket_cap``):
    over-cap buckets emit star pairs instead of a clique, keeping a
    degenerate corpus (thousands of identical docs) O(n) instead of O(n²).

    ``sig_prefilter_margin`` (VERDICT r3 #4): candidates are screened by
    their signature-agreement fraction — matching positions / num_perm,
    an unbiased estimate of Jaccard (E[agree] = J, one Bernoulli(J) trial
    per permutation). Pairs with agreement < threshold − margin are
    dropped before the verify reads their shingles. The margin buys
    safety: a true pair at J = threshold has agreement
    ~ Binom(num_perm, J)/num_perm,
    σ = √(J(1-J)/num_perm) ≈ 0.08 at num_perm = 32, so the default
    margin 0.3 puts the cut ≈ 3.7σ below the threshold (miss ≈ 1e-4 per
    borderline pair; far-above-threshold pairs are unaffected). Set
    None to disable (full LSH recall).

    ``cache_bands`` (``True`` persists, ``"ckpt"`` localCheckpoints;
    see ``_session_cache``; ``False`` caches nothing) caches the
    bands and, with the prefilter on, the signature — read by the band
    explode and both prefilter joins; the entries sit in the band ledger
    until released. The shingle set is read twice (signature and
    verify): pass ``shingle_df`` (e.g. a persisted set from
    ``shingles``) to build it once and share it across calls — its
    owner releases it. Without it, both reads re-run the shingle
    explode; nothing is persisted outside the ledger."""
    r = num_perm // n_bands
    sh = shingle_df if shingle_df is not None else shingles(df, text_col, id_col, n)
    sig = minhash_signatures(df, text_col, id_col, n, num_perm, shingle_df=sh)
    if sig_prefilter_margin is not None and cache_bands:
        # sig now has 3 consumers (bands + both prefilter joins) — cache
        # it alongside the bands so the groupBy(min) scan runs once
        sig = _session_cache(sig, mode=cache_bands)
    bands = sig.select(
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
    if cache_bands:
        bands = _session_cache(bands, mode=cache_bands)
    star = None
    if max_bucket_size is not None:
        bands, star = band_bucket_cap(
            bands, id_col, ["band", "bucket"], max_bucket_size
        )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "bucket"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
    )
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.distinct()
    if sig_prefilter_margin is not None:
        # signature-agreement screen: joins move (id, 8·num_perm-byte sig)
        # rows — tiny next to the shingle fan-out the survivors avoid; the
        # agreement count itself is codegen (zip_with + aggregate).
        min_agree = int(
            max(0.0, threshold - sig_prefilter_margin) * num_perm
        )
        if min_agree > 0:
            sig_a = sig.select(
                F.col(id_col).alias("id_a"), F.col("sig").alias("__sa")
            )
            sig_b = sig.select(
                F.col(id_col).alias("id_b"), F.col("sig").alias("__sb")
            )
            agree = F.aggregate(
                F.zip_with(
                    "__sa", "__sb", lambda x, y: (x == y).cast("int")
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            cand = (
                cand.join(sig_a, "id_a")
                .join(sig_b, "id_b")
                .where(agree >= F.lit(min_agree))
                .select("id_a", "id_b")
            )
    return (
        jaccard_for_pairs(cand, sh, id_col)
        .select("id_a", "id_b", "jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    shingle_df: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): sign-sum over the 64 bits of hash(shingle).

    Pass ``shingle_df`` (columns: id, shingle) to reuse an already
    materialized shingle set — the dedup query family shares one.

    ``hash_fn="md5"`` (VERDICT r8 #2, the Bloom precedent): the 64
    hash bits come from the first 16 hex chars of
    md5(raw n-char substring) as two 32-bit halves — bit-equal in ANSI
    SQL (``CAST('0x' || SUBSTRING(MD5(s), off, 8) AS BIGINT)``) — so
    every fingerprint bit, and therefore the Hamming distances, replay
    exactly in a DuckDB oracle. The md5 path runs as ONE Arrow
    ``mapInPandas`` pass (VERDICT r9 #7, the CMS two-level precedent):
    per-doc shingle-set → hashlib md5 → numpy bit votes, all local to
    the input partition — ZERO shuffles, vs the expression form's
    1.3M-row explode + global distinct + 64-sum hash aggregate (two
    exchanges, measured 5.4 s vs <1 s at sf0.1). hashlib md5 is
    bit-identical to Spark's ``F.md5``; the per-doc distinct is on the
    64-bit md5 prefix ≡ distinct on the raw shingle up to a 2^-64
    prefix collision (the EXACT gate would surface one), and the
    pure-Python replay pin lives in
    tests/test_operators_ext.py::test_simhash_md5_mode_python_replay.
    xxhash64 + ``shingle_df`` reuse stays the fast default."""
    if hash_fn == "md5":
        if shingle_df is not None:
            raise ValueError(
                "md5 mode rebuilds raw-substring shingles; shingle_df "
                "(already int64-hashed) cannot be replayed in SQL"
            )
        nn = int(n)
        id_type = df.schema[id_col].dataType.simpleString()

        def _md5_fingerprints(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            shifts = np.arange(64, dtype=np.uint64)
            for pdf in batches:
                ids, codes = [], []
                for did, txt in zip(pdf[id_col], pdf[text_col]):
                    # mirrors the expression form's where(length >= n)
                    if txt is None or len(txt) < nn:
                        continue
                    grams = {
                        txt[i:i + nn] for i in range(len(txt) - nn + 1)
                    }
                    buf = b"".join(
                        hashlib.md5(g.encode("utf-8")).digest()[:8]
                        for g in grams
                    )
                    # big-endian first-8-bytes == (hi << 32) | lo of the
                    # hex prefix; unique = the distinct-on-prefix step
                    hs = np.unique(
                        np.frombuffer(buf, dtype=">u8").astype(np.uint64)
                    )
                    ones = (
                        (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                    ).sum(axis=0)
                    # vote_i = 2*ones_i - n_shingles; bit set iff > 0
                    bits = (2 * ones) > len(hs)
                    code = 0
                    for i in np.nonzero(bits)[0]:
                        code |= 1 << int(i)
                    ids.append(did)
                    codes.append(
                        code - (1 << 64) if code >= (1 << 63) else code
                    )
                yield pd.DataFrame({id_col: ids, "simhash": codes}).astype(
                    {"simhash": "int64"}
                )

        from ..sources.tables import fan_out_narrow

        # the pass is embarrassingly parallel but a single-row-group
        # parquet scan arrives as ONE partition and serializes 1.4M md5
        # calls onto one core (3.2 s vs 1.4 s at sf0.1); no-op at
        # production partition counts
        return fan_out_narrow(df.select(id_col, text_col)).mapInPandas(
            _md5_fingerprints, f"{id_col} {id_type}, simhash long"
        )
    elif hash_fn == "xxhash64":
        sh = (
            shingle_df
            if shingle_df is not None
            else shingles(df, text_col, id_col, n)
        ).withColumn("h", F.xxhash64(F.col("shingle")))
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    wide = sh.groupBy(id_col).agg(*bit_sums)
    code = F.lit(0).cast("long")
    for i in range(64):
        code = code.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            * F.lit(2 ** i if i < 63 else -(2 ** 63)).cast("long")
        )
    return wide.select(id_col, code.alias("simhash"))


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Pairs (a < b) with cosine >= threshold. Brute-force all-pairs for
    correctness baseline; at scale use ``embedding_near_dup_lsh``. Pass
    ``dim`` when known — the O(n²) scoring then runs in codegen instead of
    interpreted higher-order functions (~10× on the fixtures)."""
    from .similarity import _cos

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos(F.col("__va"), F.col("__vb"), dim).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 32,
    band_bits: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    cache_bands: bool | str = True,
) -> DataFrame:
    """Scale path for cosine near-dup pairs: random-hyperplane LSH candidates
    + exact cosine verify. Same output schema as ``embedding_near_dup``
    (id_a, id_b, cos), recall < 1 by construction. ``max_bucket_size`` caps
    degenerate band buckets (near-constant embeddings all projecting to one
    code) via ``band_bucket_cap`` star pairs — O(bucket), not O(bucket²).

    A pair at cosine s collides in one b-bit band with p = (1 - acos(s)/π)^b;
    miss probability is (1 - p)^n_bands. Defaults (32 bands × 4 bits) give
    >99.5% recall at s = 0.4 and ~100% at s ≥ 0.6 — tune n_bands up for
    lower thresholds. At 100 TB the band self-join is a hash-partitioned
    equi-join on (band, code) — O(candidates), never O(n²); the verify
    only scores candidate pairs.

    Candidate selectivity scales with the gap between the threshold and the
    background cosine: near-orthogonal corpora with thresholds close to 0
    (the synthetic fixture: qualifying pairs at 0.40–0.51 over a ~0
    background) keep many candidates and the verify dominates; on real
    embedding near-dup workloads (threshold ≥ 0.9) the same banding is
    sharply selective — raise band_bits with the threshold."""
    import random

    from .similarity import _cos, _simhash_bands

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bands * band_bits)
    ]
    bands = _simhash_bands(
        df.select(F.col(id_col).alias("vid"), vec_col),
        "vid", vec_col, planes, n_bands, band_bits,
    )
    if cache_bands:
        bands = _session_cache(bands, mode=cache_bands)
    star = None
    if max_bucket_size is not None:
        bands, star = band_bucket_cap(bands, "vid", ["band", "code"], max_bucket_size)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "code"])
        .where(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
    )
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.distinct()
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", _cos(F.col("__va"), F.col("__vb"), dim).alias("cos"))
        .where(F.col("cos") >= threshold)
    )
