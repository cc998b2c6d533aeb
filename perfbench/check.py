"""Order-independent output checksums, computed alike in Spark and DuckDB.

A checksum is a dict of named aggregates over a result: the row count,
per column the non-null count and a sum (64-bit sums for integer columns,
compared modulo 2**64 because Spark's long sum wraps; double sums for
floating columns; length and first-character sums for strings; day or
microsecond sums for dates and timestamps), and
per integer column ``x`` other than the first integer column ``a``
``sum((a % P) * (x % P))``, which catches rows paired with the wrong
partner. Spark computes its side with ``DataFrame.observe`` during the
timed ``noop`` write, so the checked rows are the timed rows; DuckDB
computes the other side from the same parquet files before timing
starts.
"""

from __future__ import annotations

from decimal import Decimal

_P = 1_000_003
_MOD = 1 << 64

_DUCK_KINDS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int", "HUGEINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str", "DATE": "date",
    "TIMESTAMP": "ts", "BOOLEAN": "bool",
}
_SPARK_KINDS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str", "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts", "boolean": "bool",
}


def duck_kind(type_name: str) -> str:
    t = str(type_name).upper()
    return "float" if t.startswith("DECIMAL") else _DUCK_KINDS.get(t, "other")


def spark_kind(simple: str) -> str:
    return "float" if simple.startswith("decimal") else _SPARK_KINDS.get(simple, "other")


def _plan(cols: list[tuple[str, str]]) -> list[tuple[str, str, str]]:
    """(aggregate name, kind, column[, partner]) entries for one schema."""
    cols = sorted(cols)
    ints = [c for c, k in cols if k == "int"]
    out = [("rows", "rows", "")]
    for c, k in cols:
        out.append((f"n:{c}", "count", c))
        if k in ("int", "float", "date", "ts", "bool"):
            out.append((f"s:{c}", k, c))
        elif k == "str":
            out.append((f"len:{c}", "len", c))
            out.append((f"chr:{c}", "chr", c))
    for x in ints[1:]:
        out.append((f"mix:{ints[0]}:{x}", "mix", f"{ints[0]}\x00{x}"))
    return out


def spark_aggs(df) -> list:
    """Named aggregate Columns for ``df``'s schema (for ``df.observe``)."""
    from pyspark.sql import functions as F

    cols = [(f.name, spark_kind(f.dataType.simpleString())) for f in df.schema.fields]
    aggs = []
    for name, kind, c in _plan(cols):
        col = F.col(f"`{c}`") if c and kind != "mix" else None
        if kind == "rows":
            e = F.count(F.lit(1))
        elif kind == "count":
            e = F.count(col)
        elif kind == "int":
            e = F.sum(col.cast("bigint"))
        elif kind == "float":
            e = F.sum(col.cast("double"))
        elif kind == "date":
            e = F.sum(F.unix_date(col).cast("bigint"))
        elif kind == "ts":
            e = F.sum(F.unix_micros(col))
        elif kind == "bool":
            e = F.sum(col.cast("bigint"))
        elif kind == "len":
            e = F.sum(F.length(col).cast("bigint"))
        elif kind == "chr":
            e = F.sum(F.ascii(col).cast("bigint"))
        else:  # mix
            a, x = c.split("\x00")
            e = F.sum(
                (F.col(f"`{a}`").cast("bigint") % _P) * (F.col(f"`{x}`").cast("bigint") % _P)
            )
        aggs.append(e.alias(name))
    return aggs


def duck_checksum(con, sql: str) -> dict:
    """Run the checksum aggregates over ``sql`` in DuckDB."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) q").fetchall()
    cols = [(r[0], duck_kind(r[1])) for r in desc]
    exprs = []
    for name, kind, c in _plan(cols):
        q = f'"{c}"'
        if kind == "rows":
            e = "COUNT(*)"
        elif kind == "count":
            e = f"COUNT({q})"
        elif kind in ("int", "bool"):
            e = f"SUM(CAST({q} AS HUGEINT))"
        elif kind == "float":
            e = f"SUM(CAST({q} AS DOUBLE))"
        elif kind == "date":
            e = f"SUM(CAST(date_diff('day', DATE '1970-01-01', {q}) AS HUGEINT))"
        elif kind == "ts":
            e = f"SUM(CAST(epoch_us({q}) AS HUGEINT))"
        elif kind == "len":
            e = f"SUM(CAST(LENGTH({q}) AS HUGEINT))"
        elif kind == "chr":
            e = f"SUM(CAST(ASCII({q}) AS HUGEINT))"
        else:
            a, x = c.split("\x00")
            e = f'SUM(CAST((CAST("{a}" AS BIGINT) % {_P}) * (CAST("{x}" AS BIGINT) % {_P}) AS HUGEINT))'
        exprs.append(f'{e} AS "{name}"')
    row = con.execute(f"SELECT {', '.join(exprs)} FROM ({sql}) q").fetchone()
    return {name: v for (name, _, _), v in zip(_plan(cols), row)}


def _num(v):
    if v is None:
        return 0
    if isinstance(v, Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    return v % _MOD if isinstance(v, int) and not isinstance(v, bool) else v


def mismatches(got: dict, want: dict) -> list[str]:
    """Human-readable differences on the aggregates ``want`` names; empty
    if they all agree. Integer aggregates must match modulo 2**64,
    floating sums to a relative 1e-9 (engines sum in different orders)."""
    out = []
    if not set(want) <= set(got):
        return [f"aggregates missing: {sorted(set(want) - set(got))}"]
    rows = max(1, _num(want.get("rows", 1)))
    for k in sorted(want):
        g, w = _num(got[k]), _num(want[k])
        if isinstance(g, int) and isinstance(w, int):
            ok = g == w
        else:
            ok = abs(float(g) - float(w)) <= 1e-9 * max(abs(float(w)), 1.0) + 1e-9 * rows
        if not ok:
            out.append(f"{k}: got {g!r}, want {w!r}")
    return out
