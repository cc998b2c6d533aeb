"""The registry's family memo owns every shared artifact it builds:
``clear_dedup_cache`` frees their checkpoint blocks, and a failed build
releases what it checkpointed before the error propagates."""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _holds_storage(df) -> bool:
    level = df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    return level.useMemory() or level.useDisk()


@pytest.fixture
def registered_ckpts(monkeypatch):
    """Every frame registered through ``dedup.register_ckpt`` meanwhile."""
    from spark_skew_join_spark.operators import dedup as dd

    seen = []
    real = dd.register_ckpt

    def record(df):
        seen.append(df)
        return real(df)

    monkeypatch.setattr(dd, "register_ckpt", record)
    return seen


def test_clear_dedup_cache_releases_every_family_checkpoint(spark, registered_ckpts):
    from spark_skew_join_spark import queries as q

    q.clear_dedup_cache()
    sh, pairs = q._dedup_family(spark, SF_DIR)
    edges = q._copurchase_family(spark, SF_DIR)
    tf = q._langid_family(spark, SF_DIR)
    held = [sh, pairs, edges, tf, *registered_ckpts]
    assert all(_holds_storage(df) for df in (sh, pairs, edges, tf))
    n_edges = edges.count()

    q.clear_dedup_cache()
    assert [df for df in held if _holds_storage(df)] == []
    assert q._FAMILIES == {}
    # the memo rebuilds rather than return a released frame
    again = q._copurchase_family(spark, SF_DIR)
    assert again is not edges and again.count() == n_edges
    q.clear_dedup_cache()


def test_failed_family_build_releases_its_checkpoints(spark, registered_ckpts, monkeypatch):
    """ADVICE: a failed ``_ann_family`` orphaned the IVF chain's ``assign``
    checkpoint when the PQ chain raised."""
    from spark_skew_join_spark import queries as q
    from spark_skew_join_spark.operators import dedup as dd, pq

    def fail(*args, **kwargs):
        raise RuntimeError("train_pq failed")

    q.clear_dedup_cache()
    monkeypatch.setattr(pq, "train_pq", fail)
    snap = dd.cache_snapshot()
    with pytest.raises(RuntimeError, match="train_pq failed"):
        q._ann_family(spark, SF_DIR)
    assert len(registered_ckpts) == 1  # the IVF chain's assign relation
    assert not _holds_storage(registered_ckpts[0])
    assert dd.cache_snapshot() == snap
    assert not [key for key in q._FAMILIES if key[0] == "ann"]
