"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run ``run.py`` at the tiny scale in subprocesses (about
a minute each); the others drive the harness on a small local session.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
from workloads import Op, Workload, check_pairs, jaccard  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def metric_units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["tpch_sf0.1"])
def test_smoke_prints_every_end_to_end_metric(workload):
    res = run_bench(workload, seed=1, trace=0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert metric_units(res) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_prints_every_layer_metric(workload):
    res = run_bench(workload, seed=1, trace=1)
    assert res["correct"]
    assert metric_units(res) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def test_seed_changes_data_not_metric_names(tmp_path):
    digests = []
    for seed in (1, 2):
        out = tmp_path / str(seed)
        out.mkdir()
        gen.gen_zipf(str(out), seed, gen.SCALES["tiny"])
        digests.append(hashlib.sha256((out / "left.parquet").read_bytes()).hexdigest())
    assert digests[0] != digests[1]
    again = tmp_path / "again"
    again.mkdir()
    gen.gen_zipf(str(again), 1, gen.SCALES["tiny"])
    assert hashlib.sha256((again / "left.parquet").read_bytes()).hexdigest() == digests[0]
    names = [set(run_bench("skew_join_zipf", seed, 0)["metrics"]) for seed in (1, 2)]
    assert names[0] == names[1]


def test_mismatches_flags_a_wrong_checksum():
    want = {"rows": 10, "s:k": 45, "s:v": 1.5}
    assert check.mismatches(dict(want), want) == []
    assert check.mismatches({**want, "s:k": 46}, want)
    assert check.mismatches({**want, "s:v": 1.5 + 1e-3}, want)
    # Spark's wrapped long sum equals DuckDB's wide sum modulo 2**64
    assert check.mismatches({**want, "s:k": 45 - 2**64}, want) == []


def test_check_pairs_rejects_false_and_missing_pairs():
    texts = [
        "spark join filter window value",
        "spark join filter window value dup",
        "unrelated text here",
        "spark join filter window value",
    ]
    near = jaccard(texts[0], texts[1])
    good = [(0, 1, near), (0, 3, 1.0), (1, 3, near)]
    assert check_pairs(good, texts, {(0, 3)}, {(0, 1)}) == []
    assert check_pairs(good + [(0, 2, 0.9)], texts, {(0, 3)}, {(0, 1)})  # a false pair
    assert check_pairs(good[:1], texts, {(0, 3)}, {(0, 1)})  # an exact duplicate missed
    assert check_pairs(good[1:], texts, {(0, 3)}, {(0, 1)})  # planted recall below the minimum


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    os.environ["PYTHONPATH"] = ROOT
    from spark_skew_join_spark.sources.tables import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


class _Fixed(Workload):
    """Three ops over ``spark.range``; op ``b`` expects a deliberately
    wrong row count."""

    def ops(self, spark):
        return [
            Op(name, "test", lambda n=n: spark.range(n), n, want={"rows": rows})
            for name, n, rows in (("a", 10, 10), ("b", 20, 21), ("c", 30, 30))
        ]


def test_wrong_result_counts_as_failed(spark):
    from harness import Runner
    from spans import Tracer

    job = Runner(spark, _Fixed("fixed", "", 0, gen.SCALES["tiny"]), Tracer(enabled=False)).run_job(
        traced=False, trace_id=0
    )
    assert [r.name for r in job.ops] == ["a", "b", "c"]
    assert [r.name for r in job.ops if r.problems] == ["b"]


def test_job_leaving_a_dedup_cache_entry_fails(spark):
    from harness import Runner
    from spans import Tracer
    from spark_skew_join_spark.operators import dedup

    class Leaky(_Fixed):
        def ops(self, spark):
            def build():
                df = spark.range(5)
                dedup.register_ckpt(df)
                return df

            return [Op("leak", "test", build, 5, want={"rows": 5})]

    orig = dedup.release_entries
    dedup.release_entries = lambda bands, spills: None  # a release that forgets
    try:
        wl = Leaky("leaky", "", 0, gen.SCALES["tiny"])
        job = Runner(spark, wl, Tracer(enabled=False)).run_job(traced=False, trace_id=0)
    finally:
        dedup.release_entries = orig
        dedup.release_entries(*dedup.entries_since((0, 0)))
    assert job.failed == 1
