"""The DataSketches registry lines against their DuckDB oracles.

Each line keeps its sketch estimate inside the plan as an error gate and
outputs only exact columns, so its rows must equal the oracle's exact
SQL as a sorted multiset (``tools/selfcheck.py``'s comparison).  A gate
miss shows up as a missing row.  Each line is also one lazy plan:
given its tables, constructing it runs no Spark job (opening a parquet
table reads its schema with a job of its own, and ``load_tables`` opens
a table on its first lookup, so every table is looked up first).
"""

from __future__ import annotations

import os

import pytest

from spark_skew_join_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SKETCH_LINES = (
    "hll_distinct_stats",
    "hll_union_sources",
    "kll_quantiles_orders",
    "kll_quantiles_by_priority",
    "theta_sketch_orders",
)


@pytest.mark.parametrize("name", SKETCH_LINES)
def test_sketch_line_matches_oracle(spark, selfcheck, monkeypatch, name):
    from spark_skew_join_spark import queries as q

    assert name not in q.EAGER_QUERIES
    lazy = q.load_tables(spark, SF_DIR)
    tables = {t: lazy[t] for t in TABLES}
    monkeypatch.setattr(q, "load_tables", lambda spark_, sf_dir: tables)
    sc = spark.sparkContext
    group = f"construct-{name}"
    sc.setJobGroup(group, "plan construction only")
    try:
        sdf = q.QUERIES[name](spark, SF_DIR)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    con = selfcheck.duck_con(SF_DIR)
    try:
        result = selfcheck.compare(sdf, con, q.ORACLES[name])
    finally:
        con.close()
    assert result.startswith("EXACT"), result


def test_bounds_match_documented_constants():
    """The gates' constants: HLL 3·1.04/√2^14; theta 3/√2^8; KLL
    DataSketches' 99% rank error 2.296/k^0.9723 at k=200, scaled by
    √(ln(1/δ)/ln 100) = √3 for δ = 1e-6."""
    from spark_skew_join_spark.sketch.bounds import (
        hll_error,
        kll_rank_error,
        theta_error,
    )

    assert hll_error(14) == pytest.approx(0.024375)
    assert theta_error(8) == pytest.approx(0.1875)
    assert kll_rank_error(200, delta=0.01) == pytest.approx(0.013295, abs=1e-6)
    assert kll_rank_error(200, delta=1e-6) == pytest.approx(
        kll_rank_error(200, delta=0.01) * 3 ** 0.5
    )
