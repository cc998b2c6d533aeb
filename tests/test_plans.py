"""Plan-shape tests: pushdown, pruning, broadcast, UDF-free hot paths.

These encode the 100 TB design requirements as assertions — a regression
that drops a pushed filter or sneaks a Python UDF into skew_join fails CI,
not a production run.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf, skew_join
from spark_skew_join_spark.plans.explain import (
    has_broadcast_join,
    has_python_udf,
    num_shuffles,
    plan_string,
    pushed_filters,
    scan_schemas,
)
from spark_skew_join_spark.sources.tables import load_tables
from spark_skew_join_spark.testing import skew_join_decisions
import pytest

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet(spark):
    li = load_tables(spark, SF)["lineitem"]
    q = li.select("l_orderkey", "l_quantity").where(F.col("l_quantity") > 30)
    pf = pushed_filters(q)
    assert any("l_quantity" in f for f in pf), f"no pushdown: {pf}"


def test_column_pruning(spark):
    li = load_tables(spark, SF)["lineitem"]
    q = li.select("l_orderkey", "l_quantity")
    schemas = scan_schemas(q)
    assert schemas and all(
        "l_extendedprice" not in s for s in schemas
    ), f"scan reads unneeded columns: {schemas}"


def test_skew_join_plan_is_udf_free_and_broadcasts(spark):
    """At sf0.001 the supplier table is under the broadcast threshold, so
    Catalyst plans the plain join as a broadcast hash join and skew_join
    returns that join unchanged: no Python, and the broadcast is Catalyst's
    own."""
    t = load_tables(spark, SF)
    conf = SkewJoinConf(replication_factor=0.01, hot_threshold=100)
    with skew_join_decisions() as got:
        j = skew_join(t["lineitem"], t["supplier"], [("l_suppkey", "s_suppkey")], "inner", conf)
    assert [d.strategy for d in got] == ["broadcast"]
    assert not has_python_udf(j), "skew_join must stay JVM-side"
    assert has_broadcast_join(j), "Catalyst's plain join should broadcast the supplier table"


def test_skew_join_split_plan_is_udf_free_and_broadcasts(spark):
    """With a merge hint the plain join is a sort-merge join, so skew_join
    takes the hot/cold split: its hot-key table and the smaller hot
    fragment are broadcast, and no Python runs anywhere in the plan."""
    t = load_tables(spark, SF)
    conf = SkewJoinConf(replication_factor=0.01, hot_threshold=100)
    supplier = t["supplier"].hint("merge")
    with skew_join_decisions() as got:
        j = skew_join(t["lineitem"], supplier, [("l_suppkey", "s_suppkey")], "inner", conf)
    assert [d.strategy for d in got] == ["split_broadcast"]
    assert not has_python_udf(j), "skew_join hot path must stay JVM-side"
    assert has_broadcast_join(j), "hot-key map attach should be a broadcast join"


def test_small_dim_join_goes_broadcast(spark):
    t = load_tables(spark, SF)
    j = t["orders"].join(t["customer"], t["orders"].o_custkey == t["customer"].c_custkey)
    assert has_broadcast_join(j)


def test_groupby_single_shuffle(spark):
    li = load_tables(spark, SF)["lineitem"]
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert num_shuffles(q) <= 1, "partial aggregation should leave one exchange"


def _subtree(lines: list[str], i: int) -> list[str]:
    """Line ``i`` of a tree string and the lines of its descendants."""

    def depth(line: str) -> int:
        return len(re.match(r"[\s:|+-]*", line).group(0))

    out = [lines[i]]
    for line in lines[i + 1:]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return out


def test_minhash_verify_is_candidate_scoped(spark):
    """The exact-Jaccard verify runs over the LSH candidate pairs only: no
    join anywhere in the plan is keyed on ``shingle`` (an all-pairs
    intersection build, or a fan-out through the shingle table keyed on
    it, would be), and the per-pair ``collect_set(shingle)`` aggregate
    reads only shingles joined by doc id to the two docs of a distinct
    candidate pair."""
    from spark_skew_join_spark.operators.dedup import minhash_pairs

    docs = load_tables(spark, SF)["documents"]
    lines = (
        minhash_pairs(docs, threshold=0.5, n=8)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
        .splitlines()
    )
    joins = [
        m.group(0)
        for line in lines
        for m in [
            re.search(r"Join \w+, \(.*\)", line)
            or re.search(r"\w+Join \[.*?\], \[.*?\]", line)
        ]
        if m
    ]
    assert joins, "plan has no join — the regexes no longer match it"
    keyed = [c for c in joins if re.search(r"\bshingle#", c)]
    assert not keyed, f"join keyed on shingle: {keyed}"
    verify = [
        i for i, line in enumerate(lines)
        if re.search(r"Aggregate \[id_a#\d+L?, id_b#\d+L?\], .*collect_set\(shingle#", line)
    ]
    assert verify, "verify is not a per-pair collect_set of shingles"
    below = _subtree(lines, verify[0])
    fan = [
        i for i, line in enumerate(below)
        if re.search(r"Generate posexplode\(array\(id_a#\d+L?, id_b#\d+L?\)\)", line)
    ]
    assert fan, "verify does not fan each pair out to its two doc ids"
    assert re.search(
        r"Join Inner, \(doc_id#\d+L? = doc_id#\d+L?\)", "\n".join(below)
    ), "shingles do not join the pair's doc ids"
    assert re.search(
        r"Aggregate \[id_a#\d+L?, id_b#\d+L?\], \[id_a#\d+L?, id_b#\d+L?\]",
        "\n".join(_subtree(below, fan[0])),
    ), "the fanned-out pairs are not the distinct candidate pairs"


def test_gopher_signals_plan_is_one_pass(spark):
    """Over the one-row-group documents scan the Gopher signals are one
    explode and two aggregates in the partition the doc-id fan-out puts
    each document in: no join, and that fan-out is the only exchange."""
    from spark_skew_join_spark.operators.quality import gopher_quality_signals

    out = gopher_quality_signals(load_tables(spark, SF)["documents"])
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized, optimized
    physical = plan_string(out, "simple")
    assert num_shuffles(out) == 1, physical
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)", physical), physical
    assert optimized.count("Generate ") == 1, optimized


def test_shingles_distinct_runs_in_the_scan_stage(spark):
    """``shingles`` fans the narrow scan out by doc id, so its distinct on
    (doc_id, shingle) needs no second shuffle: the plan's one exchange is
    the doc-id hash fan-out, below the explode."""
    from spark_skew_join_spark.operators.dedup import shingles

    out = shingles(load_tables(spark, SF)["documents"], n=8)
    lines = plan_string(out, "simple").splitlines()
    exchanges = [i for i, line in enumerate(lines) if "Exchange" in line]
    assert num_shuffles(out) == 1, lines
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)", lines[exchanges[0]])
    generate = [i for i, line in enumerate(lines) if "Generate explode" in line]
    assert generate and exchanges[0] > generate[0], "an exchange sits above the explode"


def test_embedding_lsh_plan_has_no_cartesian(spark):
    from spark_skew_join_spark.operators.dedup import embedding_near_dup_lsh

    emb = load_tables(spark, SF)["embeddings"]
    plan = (
        embedding_near_dup_lsh(emb, threshold=0.4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


@pytest.mark.slow
def test_no_benched_query_has_cartesian_product(spark):
    """VERDICT r2 #2 done-criterion: after demoting the all-pairs oracle
    baselines to BENCH_EXCLUDE, no TIMED query's physical plan may contain a
    shuffled cartesian product. BroadcastNestedLoopJoin is tolerated only
    for knn_bruteforce, whose designed exact-baseline scan broadcasts the
    tiny query set over the corpus (embarrassingly parallel, no shuffle)."""
    from spark_skew_join_spark import queries as q

    # 1-row scalar-subquery broadcasts (avg/total/max thresholds) are
    # BroadcastNestedLoopJoins by construction — bounded and shuffle-free.
    # The allowlist lives beside the registry (q.SCALAR_BNL_OK) so a new
    # scalar-broadcast query updates gate + metadata in one place
    # (VERDICT r3 #2: the name list here went stale for tfidf_top_terms).
    bnl_ok = set(q.SCALAR_BNL_OK)
    offenders = []
    for name in q.QUERIES:
        if name in q.BENCH_EXCLUDE:
            continue
        plan = (
            q.QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoop" in plan and name not in bnl_ok:
            offenders.append((name, "BroadcastNestedLoop"))
    q.clear_dedup_cache()
    assert not offenders, offenders


def test_driver_window_marker():
    """The DRIVER_WINDOW marker cannot rot silently (ADVICE r9 #1 bug
    class): its entries must BE the first `size` keys of QUERIES, the
    composition arithmetic must add up, and the staleness-first
    invariant must hold against the CORRECTNESS_r*.json ledger — no
    entry outside the window may be STALER than a non-debut,
    non-changed entry inside it."""
    import glob
    import json
    import os
    import re

    from spark_skew_join_spark.queries import DRIVER_WINDOW, QUERIES

    win = DRIVER_WINDOW
    entries = list(win["entries"])
    assert len(entries) == win["size"]
    assert sum(win["composition"].values()) == win["size"]
    assert list(QUERIES)[: win["size"]] == entries
    assert set(win["debut"]) <= set(entries)
    assert set(win["changed"]) <= set(entries)
    assert len(win["debut"]) == win["composition"]["debut"]
    assert len(win["changed"]) == win["composition"]["changed"]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        if rnd >= win["round"]:
            continue  # judge staleness AS OF the rotation, not after
        for qname in json.load(open(f)):
            last[qname] = rnd
    if not last:  # ledger absent (fresh checkout) — arithmetic-only
        return
    # debuts must be genuinely never-checked before this round
    for d in win["debut"]:
        assert d not in last, d
    special = set(win["debut"]) | set(win["changed"])
    plain = [e for e in entries if e not in special and e in last]
    # rows-only postures (QUERIES - ORACLES) are skipped by the
    # rotation BY POLICY (VERDICT r11 #5: they certify nothing beyond
    # row counts; their EXACT *_refined siblings carry coverage), so
    # they don't participate in the staleness invariant
    from spark_skew_join_spark.queries import ORACLES

    outside = [
        q
        for q in list(QUERIES)[win["size"]:]
        if q in last and q in ORACLES
    ]
    if plain and outside:
        assert max(last[e] for e in plain) <= min(
            last[q] for q in outside
        ), "an entry outside the window is staler than one inside"


def test_families_share_one_memo():
    """Every ``_*_family`` builder is memoized through ``_family``, and
    ``queries.py`` keeps no other module-level cache dict — a new family
    cannot bring back a hand-rolled cache with its own release rules."""
    import ast
    import inspect

    from spark_skew_join_spark import queries as q

    tree = ast.parse(inspect.getsource(q))
    families = [
        node for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith("_") and node.name.endswith("_family")
        and node.name != "_family"
    ]
    assert len(families) >= 10
    for node in families:
        decorators = [ast.unparse(d) for d in node.decorator_list]
        assert decorators == ["_family"], (node.name, decorators)
    caches = []
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [ast.unparse(t) for t in targets]
            if "CACHE" in " ".join(names).upper() or ast.unparse(node.value) in ("{}", "dict()"):
                caches += names
    assert caches == ["_FAMILIES"], caches
