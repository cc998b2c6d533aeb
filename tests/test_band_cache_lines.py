"""Registry lines that cache through ``operators.dedup._session_cache`` or
verify candidate pairs through ``jaccard_for_pairs``, each against its
DuckDB oracle at the tier-1 scale."""

from __future__ import annotations

import pytest
from conftest import SF_DIR


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_docs",
        "incremental_minhash_docs",
        "setsim_join_docs",
        "bigram_lm_quality",
        "ann_lsh_refined_topk",
    ],
)
def test_band_cache_line_matches_oracle(spark, selfcheck, name):
    from spark_skew_join_spark import queries as q

    sdf = q.QUERIES[name](spark, SF_DIR)
    con = selfcheck.duck_con(SF_DIR)
    try:
        result = selfcheck.compare(sdf, con, q.ORACLES[name])
    finally:
        con.close()
        q.clear_dedup_cache()
    assert result.startswith("EXACT"), result
