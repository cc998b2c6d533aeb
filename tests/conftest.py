"""Shared pytest fixtures: one SparkSession per test session, skew fixtures.

Fixture shapes follow FIXTURES.md §B (Zipf keys, single hot key, null keys,
multi-column keys with the concat-collision pair, disjoint outer ranges,
empty sides, duplicate rows).
"""

from __future__ import annotations

import importlib.util
import os
import random

import pytest
from pyspark.sql import SparkSession


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def selfcheck():
    """``tools/selfcheck.py`` as a module: ``duck_con`` opens the oracle
    tables and ``compare`` checks a Spark frame against oracle SQL."""
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    from spark_skew_join_spark.sources.tables import get_spark

    # SPARK_TEST_CPUS overrides the width; otherwise get_spark takes it
    # from SPARK_GRAFT_CPUS or the CPUs the process may use
    cpus = os.environ.get("SPARK_TEST_CPUS")
    s = get_spark("sj-tests", cpus=int(cpus) if cpus else None)
    yield s
    s.stop()


def zipf_rows(n: int, n_keys: int, s: float, seed: int):
    """Deterministic Zipf(s) keys over 1..n_keys."""
    rng = random.Random(seed)
    weights = [1.0 / (k**s) for k in range(1, n_keys + 1)]
    total = sum(weights)
    cum = []
    acc = 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    import bisect

    return [
        (bisect.bisect_left(cum, rng.random()) + 1, f"p{i}") for i in range(n)
    ]


@pytest.fixture(scope="session")
def zipf_left(spark):
    return spark.createDataFrame(
        zipf_rows(20_000, 2_000, 1.5, seed=42), "k bigint, payload_l string"
    )


@pytest.fixture(scope="session")
def uniform_right(spark):
    return spark.createDataFrame(
        [(k, f"r{k}") for k in range(1, 2_001)], "k bigint, payload_r string"
    )


@pytest.fixture(scope="session")
def zipf_right(spark):
    return spark.createDataFrame(
        zipf_rows(20_000, 2_000, 1.5, seed=7), "k bigint, payload_r string"
    )
