"""ADVICE r14 #1 (medium): ckpt-mode session-cache release safety.

A ``_session_cache(mode="ckpt")`` frame is a localCheckpoint — releasing
its blocks truncates lineage IRRECOVERABLY, so any path that releases
entries and then re-executes the same DataFrame crashes. A caller that
releases a lazy query's entries (``release_entries``) and then re-runs
the same plan is safe only while no non-eager query registers a ckpt
entry. This test pins that invariant over the whole registry:
constructing every non-EAGER query must register zero ckpt entries.
"""

from __future__ import annotations

import os
import re

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.slow
def test_non_eager_queries_register_no_ckpt_entries(spark):
    from spark_skew_join_spark import queries as q
    from spark_skew_join_spark.operators import dedup as dd

    # build every family through the memo first: the memo takes its
    # builds' ckpt entries out of the ledger, so only each query's own
    # registrations are seen below
    for name, build in list(vars(q).items()):
        if re.fullmatch(r"_\w+_family", name):
            build(spark, SF_DIR)
    bad = []
    for name, fn in q.QUERIES.items():
        if name in q.EAGER_QUERIES:
            continue
        snap = dd.cache_snapshot()
        fn(spark, SF_DIR)  # construction only — non-eager lines are lazy
        bands, spills = dd.entries_since(snap)
        if any(not b.is_cached for b in bands):  # a ckpt entry
            bad.append(name)
        dd.release_entries(bands, spills)
    q.clear_dedup_cache()
    assert not bad, (
        "non-EAGER queries registered ckpt session-cache entries — a "
        "caller releasing them and re-running the plan would re-execute "
        f"a released localCheckpoint: {bad}"
    )


def test_release_df_unpersists_checkpoint_blocks(spark):
    """_release_df on a ckpt entry drops the wrapped RDD's blocks (the
    r14 mechanism) — re-collecting the released frame is NOT supported;
    this documents the one-way contract the invariant above protects."""
    from spark_skew_join_spark.operators import dedup as dd

    df = spark.range(0, 10).toDF("x")
    ck = dd._session_cache(df, mode="ckpt")
    assert ck.collect()  # consumable before release
    jrdd = ck._jdf.queryExecution().analyzed().rdd()
    assert jrdd.getStorageLevel().useMemory()
    dd._release_df(ck)
    assert not jrdd.getStorageLevel().useMemory()
