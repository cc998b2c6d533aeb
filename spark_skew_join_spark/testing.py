"""Test-assertion helpers.

``assert_df_equal`` rebuilds ``ensureDatasetEquals``
(``/root/reference/src/main/scala/org/anish/spark/skew/Utils.scala:83-88``)
with one deliberate fix (SURVEY §4 Q5): the reference compares collected rows
as a *set*, silently ignoring duplicate-row multiplicity; we compare sorted
multisets, matching the driver's order-insensitive-but-multiplicity-sensitive
DuckDB oracle. Schema comparison stays order- and nullability-insensitive
like the reference (a set of (name, dataType)).

Driver-side only — collect both frames; use on small test data.

``skew_join_decisions`` collects the decision records ``skew_join`` logs,
so a test can assert which strategy a call took.
"""

from __future__ import annotations

import logging
import math
from contextlib import contextmanager

from pyspark.sql import DataFrame


def _schema_set(df: DataFrame) -> set[tuple[str, str]]:
    return {(f.name, f.dataType.simpleString()) for f in df.schema.fields}


def _sort_key(row: tuple) -> tuple:
    # total order across None/mixed types within a column
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def _quantize(v: float, sig: int = 9) -> float:
    """Round to ``sig`` significant digits so accumulation-order float noise
    compares equal while real differences don't."""
    if v == 0 or math.isnan(v) or math.isinf(v):
        return v
    return round(v, sig - 1 - math.floor(math.log10(abs(v))))


def _normalize(df: DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_quantize(v) if isinstance(v, float) else v for v in r)
        for r in df.select(*cols).collect()
    ]
    rows.sort(key=_sort_key)
    return rows


def assert_df_equal(
    actual: DataFrame,
    expected: DataFrame,
    only_schema: bool = False,
) -> None:
    a_schema, e_schema = _schema_set(actual), _schema_set(expected)
    assert a_schema == e_schema, (
        f"schemas differ:\n  actual:   {sorted(a_schema)}\n"
        f"  expected: {sorted(e_schema)}"
    )
    if only_schema:
        return
    a_rows, e_rows = _normalize(actual), _normalize(expected)
    assert len(a_rows) == len(e_rows), (
        f"row counts differ: actual={len(a_rows)} expected={len(e_rows)}"
    )
    for i, (ar, er) in enumerate(zip(a_rows, e_rows)):
        assert ar == er, f"first differing row (sorted order, idx {i}):\n  actual:   {ar}\n  expected: {er}"


class _Collect(logging.Handler):
    def __init__(self, into: list) -> None:
        super().__init__(logging.INFO)
        self.into = into

    def emit(self, record: logging.LogRecord) -> None:
        if hasattr(record, "skew_join"):
            self.into.append(record.skew_join)


@contextmanager
def skew_join_decisions():
    """Yield a list that collects the ``Decision`` of every ``skew_join``
    call made inside the block, in call order."""
    got: list = []
    logger = logging.getLogger("spark_skew_join_spark.operators.skew_join")
    handler, level = _Collect(got), logger.level
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    try:
        yield got
    finally:
        logger.removeHandler(handler)
        logger.setLevel(level)
