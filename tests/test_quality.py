"""Gopher quality and repetition signals: the registry lines against their
DuckDB oracles, and ``gopher_quality_signals`` on edge-case documents
against a pure-Python reference."""

from __future__ import annotations

from collections import Counter

import pytest
from conftest import SF_DIR

from spark_skew_join_spark.operators.quality import gopher_quality_signals


@pytest.mark.parametrize("name", ["gopher_quality_docs", "repetition_signals"])
def test_quality_line_matches_oracle(spark, selfcheck, name):
    from spark_skew_join_spark import queries as q

    sdf = q.QUERIES[name](spark, SF_DIR)
    con = selfcheck.duck_con(SF_DIR)
    try:
        result = selfcheck.compare(sdf, con, q.ORACLES[name])
    finally:
        con.close()
    assert result.startswith("EXACT"), result


def _reference(text: str | None) -> tuple:
    """The Gopher signals of one document, computed in Python: tokens are
    ``text.split(" ")``, n-gram counts come from a ``Counter``. NULL text
    has NULL scalars and verdict and 0.0 top-n-gram fractions; empty text
    has 0 tokens but one (empty) unigram."""

    def top(toks: list[str], n: int) -> float:
        grams = Counter(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
        return max(grams.values()) / sum(grams.values()) if grams else 0.0

    if text is None:
        return (None, None, None, 0.0, 0.0, None)
    toks = text.split(" ")
    ntok = 0 if text == "" else len(toks)
    mean = 0.0 if ntok == 0 else (len(text) - (ntok - 1)) / ntok
    sym = 0.0 if ntok == 0 else sum(ch in ".,!?;:" for ch in text) / ntok
    uni, bi = top(toks, 1), top(toks, 2)
    passes = (
        10 <= ntok <= 1000 and 2.0 <= mean <= 12.0 and sym <= 0.3
        and uni <= 0.25 and bi <= 0.18
    )
    return (ntok, mean, sym, uni, bi, passes)


def test_gopher_signals_edge_cases(spark):
    """Empty, one-word, repeated-word, punctuation-only and NULL texts
    give the reference's signals bit for bit, and a NULL id is dropped."""
    texts = {
        1: "",
        2: "hello",
        3: "go go",
        4: "la la la la la",
        5: "!?. ,;",
        6: None,
        7: "the cat sat on the mat . the cat",
        8: " ".join(f"w{i % 11}" for i in range(40)),
    }
    rows = list(texts.items()) + [(None, "a doc without an id")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: tuple(r)[1:] for r in gopher_quality_signals(df).collect()}
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        want = _reference(text)
        assert [type(v) for v in got[doc_id]] == [type(v) for v in want], doc_id
        assert got[doc_id] == want, (doc_id, text, got[doc_id], want)
    assert got[8][-1] is True  # one doc passes every rule
