"""Product-quantization ANN (Jégou, Douze & Schmid 2011: Product
Quantization for Nearest Neighbor Search) — the billion-vector scale
rung of the similarity ladder (brute → LSH → IVF → PQ):

* ``train_pq`` — split the (L2-normalized) vector into ``m``
  subspaces; k-means each subspace on a bounded hash-ordered sample
  (driver numpy, deterministic — same recipe as the IVF quantizer).
  Codebook size: m × ks × (dim/m) floats, kilobytes.
* ``encode_pq`` — corpus vectors compress to ``m`` byte-sized codes
  (8 bytes/vector at m=8): a 64-float embedding shrinks 32×, which is
  what lets a billion vectors sit in cluster memory.  Arrow-batched
  numpy argmin per subspace; only ids+codes leave the stage.
* ``pq_topk`` — asymmetric distance computation: per query, one
  lookup table of ``m × ks`` inner products; a candidate's score is m
  table gathers + adds, NO float vector is ever read again.  The LUTs
  are closure-captured (broadcast-equivalent, Q × m × ks floats).

Quality contract: ADC scores approximate true inner products with
per-subspace quantization error; the registry entry is rows-only
(approximate by construction, like LSH/IVF) with recall vs brute-force
pinned in tests and reported in-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

import weakref

# LUT broadcasts created by pq_topk, one per lut_chunk. They must stay
# alive until the RETURNED (lazy) DataFrame's action runs, so pq_topk
# cannot destroy them itself; callers release them via
# clear_pq_broadcasts() once results are materialized (the dedup
# clear_band_cache pattern — ADVICE r8 #4). queries.clear_dedup_cache
# calls it, so registry loops never accumulate them.
# WEAK references: the scorer closure inside the returned DataFrame is
# the strong ref, so a library user who drops the DataFrame without
# ever calling the cleanup still gets normal GC + ContextCleaner
# collection — the registry must not turn a collectible broadcast into
# a process-lifetime leak (review r9 finding).
_LUT_BROADCASTS: list = []  # list[weakref.ref]


def clear_pq_broadcasts() -> None:
    """Destroy every still-live LUT broadcast pq_topk has created
    (idempotent).

    Call AFTER the top-k DataFrames returned by pq_topk have been
    materialized — a destroyed broadcast fails any later action that
    still references it."""
    for ref in _LUT_BROADCASTS:
        bc = ref()
        if bc is None:
            continue  # already GC-collected — nothing to destroy
        try:
            bc.destroy()
        except Exception:  # session already stopped — nothing to release
            pass
    _LUT_BROADCASTS.clear()


def _sample_matrix(corpus, id_col, vec_col, sample_size):
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return x


def train_pq(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    sample_size: int = 2048,
    iters: int = 8,
) -> list:
    """Codebooks ``[m][ks][dim/m]`` from deterministic per-subspace
    k-means (L2) on a bounded sample of normalized vectors."""
    import numpy as np

    x = _sample_matrix(corpus, id_col, vec_col, sample_size)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cent = xs[:ks].copy()  # hash-ordered rows = pseudo-random init
        for _ in range(iters):
            d = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(ks):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cent])
    return books


def encode_pq(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): m sub-quantizer assignments per vector.
    Arrow-batched; the whole batch's subvectors argmin against each
    codebook in one einsum-shaped numpy op."""
    m = len(codebooks)
    sub = len(codebooks[0][0])

    def batches(it):
        import numpy as np
        import pandas as pd

        cents = [np.asarray(b, dtype=np.float64) for b in codebooks]
        for pdf in it:
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                d = (
                    (xs ** 2).sum(axis=1, keepdims=True)
                    - 2.0 * xs @ cents[j].T
                    + (cents[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "codes": [list(map(int, c)) for c in codes],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        batches, f"{id_col} long, codes array<int>"
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_with: DataFrame | None = None,
    refine_factor: int = 5,
    max_queries: int = 65536,
    lut_chunk: int = 4096,
) -> DataFrame:
    """(query_id, neighbor_id, rank) by ADC score: the query builds one
    m × ks inner-product lookup table; every candidate costs m gathers.

    Driver-memory contract (VERDICT r7 #8): the query side is collected
    to build LUTs, CAPPED at ``max_queries`` (the collect itself is
    ``limit(max_queries + 1)``, so an oversized query set fails fast
    instead of OOMing the driver). LUTs ship to executors as
    ``lut_chunk``-sized sparkContext broadcasts — each broadcast is
    bounded at lut_chunk · m · ks · 8 bytes (~64 MiB at the defaults
    with ks=256, m=8), never the whole query set; chunks score in
    independent corpus passes unioned into one plan, so callers with a
    multi-chunk query batch should persist ``codes``.

    ``refine_with`` enables the standard ADC+R re-ranking (Jégou et al.
    §V): ADC selects ``k × refine_factor`` candidates per query, then
    ONLY those rows join back to the float vectors for exact cosine
    re-scoring — the full-precision reads stay candidate-scoped
    (Q × k × refine_factor rows), which is what makes PQ usable on
    structure-poor data where quantization error rivals the true
    similarity gaps."""
    import numpy as np

    if max_queries <= 0 or lut_chunk <= 0:
        raise ValueError("max_queries and lut_chunk must be positive")
    m = len(codebooks)
    qrows = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_topk: query side exceeds max_queries={max_queries}; "
            "raise the cap explicitly or batch the queries upstream"
        )
    cents = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = cents[0].shape[1]
    luts = {}
    for r in qrows:
        q = np.asarray(r.qv, dtype=np.float64)
        q /= max(np.linalg.norm(q), 1e-12)
        luts[int(r.qid)] = np.stack(
            [cents[j] @ q[j * sub:(j + 1) * sub] for j in range(m)]
        )  # (m, ks)

    if not luts:
        raise ValueError("pq_topk: queries DataFrame is empty")

    k_keep = k * (refine_factor if refine_with is not None else 1)

    def scorer(bc):
        # Per-PARTITION partial top-k: emitting every (query, corpus-row)
        # score made the post-scorer shuffle O(N·Q) rows — 20 B at the
        # 100k-query stress, an Arrow OOM locally and a non-plan at
        # 100 TB. Each task now keeps only the top k_keep candidates per
        # query under the exact final order (score desc, id asc), so the
        # window input is P·Q·k_keep rows and the global cut is
        # unchanged (a per-partition top-k under a total order is a
        # superset of the global top-k).
        def batches(it):
            import pandas as pd

            local = bc.value
            qids_arr = np.fromiter(local.keys(), dtype=np.int64)
            luts_arr = np.stack([local[q] for q in qids_arr])  # (Q, m, ks)
            nq = len(qids_arr)
            acc_q, acc_n, acc_s = [], [], []

            def reduce_acc():
                if not acc_q:
                    return 0
                aq = np.concatenate(acc_q)
                an = np.concatenate(acc_n)
                sc_ = np.concatenate(acc_s)
                order = np.lexsort((an, -sc_, aq))  # qid, score desc, id
                aq, an, sc_ = aq[order], an[order], sc_[order]
                starts = np.flatnonzero(np.r_[True, aq[1:] != aq[:-1]])
                counts = np.diff(np.r_[starts, len(aq)])
                ranks = np.arange(len(aq)) - np.repeat(starts, counts)
                keep = ranks < k_keep
                acc_q[:] = [aq[keep]]
                acc_n[:] = [an[keep]]
                acc_s[:] = [sc_[keep]]
                return len(acc_q[0])

            pending = 0
            for pdf in it:
                cid = pdf[id_col].to_numpy()
                cds = np.asarray(list(pdf["codes"]), dtype=np.int64)
                nb = len(cid)
                # sub-block the queries so the (q_block, B) score matrix
                # stays ~tens of MB regardless of lut_chunk
                for q0 in range(0, nq, 512):
                    qs = qids_arr[q0:q0 + 512]
                    lb = luts_arr[q0:q0 + 512]
                    scores = lb[:, 0, :][:, cds[:, 0]]
                    for j in range(1, m):
                        scores += lb[:, j, :][:, cds[:, j]]
                    # keep k_keep+1 by score (ties included via >=), so
                    # dropping the self-match can never evict a true
                    # top-k_keep candidate
                    keep_n = k_keep + 1
                    if nb > keep_n:
                        kth = np.partition(
                            scores, nb - keep_n, axis=1
                        )[:, nb - keep_n]
                        mask = scores >= kth[:, None]
                    else:
                        mask = np.ones_like(scores, dtype=bool)
                    mask &= qs[:, None] != cid[None, :]
                    qi, bi = np.nonzero(mask)
                    acc_q.append(qs[qi])
                    acc_n.append(cid[bi])
                    acc_s.append(scores[qi, bi])
                    pending += len(qi)
                if pending > 2_000_000:
                    pending = reduce_acc()
            reduce_acc()
            if acc_q and len(acc_q[0]):
                yield pd.DataFrame(
                    {
                        "query_id": acc_q[0],
                        "neighbor_id": acc_n[0],
                        "score": acc_s[0],
                    }
                )

        return batches

    sc = codes.sparkSession.sparkContext
    qids = sorted(luts)
    scored = None
    for i in range(0, len(qids), lut_chunk):
        bc = sc.broadcast({q: luts[q] for q in qids[i:i + lut_chunk]})
        _LUT_BROADCASTS.append(weakref.ref(bc))
        part = codes.mapInPandas(
            scorer(bc), "query_id long, neighbor_id long, score double"
        )
        scored = part if scored is None else scored.unionByName(part)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    if refine_with is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
            )
        )
    from .similarity import _cos

    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * refine_factor)
        .select("query_id", "neighbor_id")
    )
    nvec = refine_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    exact = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", _cos("__qv", "__cv", None).alias("sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ks: int = 32,
    sample_size: int = 2048,
    kmeans_iters: int = 5,
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    max_queries: int = 65536,
    centroids: list | None = None,
    codebooks: list | None = None,
    assigned: DataFrame | None = None,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the production ANN layout (Jégou et al. §VI; what FAISS
    IndexIVFPQ runs) — an inverted-file restriction picks n_probe of
    n_centroids lists per query, then PQ asymmetric-distance scores
    ONLY those lists' code rows, optionally exact-refining the top
    k·refine_factor.

    Spark shape — and unlike ``pq_topk``'s numpy scorer, the ADC here
    is PURE CODEGEN: per-query LUTs land in a broadcast (query_id,
    flattened m·ks lut) DataFrame and the score is an ``aggregate``
    HOF of ``element_at`` gathers, so the scoring stage is a
    BroadcastHashJoin + whole-stage-codegen projection with zero
    Python in the per-row path. Corpus vectors shuffle once onto
    their centroid id (the persistable list layout); each query
    touches ~n_probe/n_centroids of the corpus.

    Query side is collected under the same ``max_queries`` fail-fast
    cap as pq_topk. Output: (query_id, neighbor_id, rank). Approximate
    by construction (rows-only oracle posture); with n_probe =
    n_centroids the ADC ranking equals pq_topk's exactly (pinned in
    tests).
    """
    from .similarity import _cos, _fit_centroids

    if not 1 <= n_probe <= n_centroids:
        raise ValueError("need 1 <= n_probe <= n_centroids")
    spark = corpus.sparkSession
    if centroids is None:
        centroids = _fit_centroids(
            corpus, id_col, vec_col, n_centroids, sample_size, kmeans_iters
        )
    books = codebooks if codebooks is not None else train_pq(
        corpus, id_col, vec_col, m=m, ks=ks, sample_size=sample_size
    )
    import numpy as np

    cents = [np.asarray(b, dtype=np.float64) for b in books]
    sub = cents[0].shape[1]

    # corpus: PQ codes + centroid assignment (both codegen-side inputs).
    # ``assigned``/``codes_df`` (r15): pass already-materialized
    # assign_centroids / encode_pq relations (both deterministic given
    # the shared models) to skip recomputing them per caller — the
    # queries-layer ann family materializes each ONCE for its six
    # consumers.
    if assigned is None:
        from .similarity import assign_centroids

        assigned = assign_centroids(corpus, centroids, id_col, vec_col)
    assign = assigned.select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    )
    codes_src = (
        codes_df if codes_df is not None
        else encode_pq(corpus, books, id_col, vec_col)
    )
    codes = codes_src.select(
        F.col(id_col).alias("neighbor_id"), "codes"
    ).join(assign, "neighbor_id")

    # queries: bounded collect -> flattened LUT rows + probe lists
    qrows = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivfpq_topk: query side exceeds max_queries={max_queries}"
        )
    if not qrows:
        raise ValueError("ivfpq_topk: queries DataFrame is empty")
    cent_mat = np.asarray(centroids, dtype=np.float64)
    cent_norm = cent_mat / np.maximum(
        np.linalg.norm(cent_mat, axis=1, keepdims=True), 1e-12
    )
    lut_rows = []
    for r in qrows:
        q = np.asarray(r.qv, dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-12)
        lut = np.concatenate(
            [cents[j] @ qn[j * sub:(j + 1) * sub] for j in range(m)]
        )
        sims = cent_norm @ qn
        probes = np.lexsort((np.arange(n_centroids), -sims))[:n_probe]
        for cid in probes:
            lut_rows.append((int(r.qid), int(cid),
                             [float(v) for v in lut]))
    ql = spark.createDataFrame(
        lut_rows, "query_id long, centroid_id int, __lut array<double>"
    )

    # ADC: one broadcast equi-join on the probed list + a codegen fold
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            F.col("__lut"),
            (j * ks + F.element_at(F.col("codes"), (j + 1).cast("int"))
             + 1).cast("int"),
        ),
    )
    scored = (
        codes.join(F.broadcast(ql), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    if refine_with is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"))
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * refine_factor)
        .select("query_id", "neighbor_id")
    )
    nvec = refine_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    exact = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id",
                _cos("__qv", "__cv", None).alias("sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("int").alias("rank"))
    )
