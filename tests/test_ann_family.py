"""r15 ANN family derived relations: injected assign/codes relations must
reproduce the inline computation bit-for-bit (the r14 injected-models
equality posture, one artifact level deeper)."""

from __future__ import annotations

import random

import pytest


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(400)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_injected_assignment_equals_inline(spark, vecs):
    from spark_skew_join_spark.operators.similarity import (
        _fit_centroids, assign_centroids, ivf_topk,
    )

    q = vecs.where("vec_id < 3")
    cents = _fit_centroids(vecs, "vec_id", "embedding", 4, 2048, 5)
    base = sorted(map(tuple, ivf_topk(
        vecs, q, k=5, n_centroids=4, n_probe=2, dim=16, centroids=cents
    ).collect()))
    assigned = assign_centroids(vecs, cents).localCheckpoint()
    inj = sorted(map(tuple, ivf_topk(
        vecs, q, k=5, n_centroids=4, n_probe=2, dim=16,
        centroids=cents, assigned=assigned,
    ).collect()))
    assert base == inj and len(base) == 15
    assigned.unpersist()


def test_ivfpq_injected_relations_equal_inline(spark, vecs):
    from spark_skew_join_spark.operators.pq import (
        encode_pq, ivfpq_topk, train_pq,
    )
    from spark_skew_join_spark.operators.similarity import (
        _fit_centroids, assign_centroids,
    )

    q = vecs.where("vec_id < 3")
    kw = dict(k=5, n_centroids=4, n_probe=2, m=4, ks=8)
    cents = _fit_centroids(vecs, "vec_id", "embedding", 4, 2048, 5)
    books = train_pq(vecs, m=4, ks=8)
    base = sorted(map(tuple, ivfpq_topk(
        vecs, q, centroids=cents, codebooks=books, **kw
    ).collect()))
    assigned = assign_centroids(vecs, cents).localCheckpoint()
    codes = encode_pq(vecs, books).localCheckpoint()
    inj = sorted(map(tuple, ivfpq_topk(
        vecs, q, centroids=cents, codebooks=books,
        assigned=assigned, codes_df=codes, **kw
    ).collect()))
    assert base == inj and len(base) == 15
    assigned.unpersist()
    codes.unpersist()


def test_pq_topk_on_checkpointed_codes_equals_inline(spark, vecs):
    from spark_skew_join_spark.operators.pq import encode_pq, pq_topk, train_pq

    q = vecs.where("vec_id < 3")
    books = train_pq(vecs, m=4, ks=8)
    inline = sorted(map(tuple, pq_topk(
        encode_pq(vecs, books), q, books, k=5
    ).collect()))
    ck = encode_pq(vecs, books).localCheckpoint()
    cached = sorted(map(tuple, pq_topk(ck, q, books, k=5).collect()))
    assert inline == cached and len(inline) == 15
    ck.unpersist()


def test_ann_family_registers_and_releases_spark_storage(spark):
    """The memo, not the band ledger, owns the derived relations (they
    are checkpointed DataFrames, not just driver-side lists):
    clear_dedup_cache frees their blocks and drops the memo entry."""
    from spark_skew_join_spark import queries as q
    from spark_skew_join_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    snap = dd.cache_snapshot()
    fam = q._ann_family(spark, sf)
    assert fam["assign"].count() > 0 and fam["codes"].count() > 0
    assert dd.cache_snapshot() == snap
    rdds = [fam[k]._jdf.queryExecution().analyzed().rdd() for k in ("assign", "codes")]
    assert all(r.getStorageLevel().useMemory() for r in rdds)
    q.clear_dedup_cache()
    assert not any(
        r.getStorageLevel().useMemory() or r.getStorageLevel().useDisk() for r in rdds
    )
    assert not [key for key in q._FAMILIES if key[0] == "ann"]
