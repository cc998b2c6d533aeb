"""The table catalog opens only the tables a caller reads."""

from __future__ import annotations

import pytest

from spark_skew_join_spark.sources import tables

SF = tables.DEFAULT_SF_DIR


def test_load_tables_opens_only_the_tables_read(spark, monkeypatch):
    opened = []
    real = tables.load_table

    def spy(spark_, sf_dir, name):
        opened.append(name)
        return real(spark_, sf_dir, name)

    monkeypatch.setattr(tables, "load_table", spy)
    t = tables.load_tables(spark, SF)
    assert opened == []
    docs = t["documents"]
    assert opened == ["documents"]
    assert t["documents"] is docs, "a second lookup must not reopen the table"
    assert opened == ["documents"]
    assert docs.count() > 0
    assert list(t) == ["documents"]
    with pytest.raises(KeyError, match="unknown table"):
        t["no_such_table"]
    assert "no_such_table" not in t
