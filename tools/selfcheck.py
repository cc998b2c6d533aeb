"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every queries() entry at sf0.01 in Spark AND its oracle_sql() in DuckDB
(tables pre-registered as views), compares row count + sorted value multiset.
Reports EXACT (bit-identical), CLOSE (equal after 9-sig-digit quantization —
would likely fail a strict hash), or MISMATCH.

Type-sensitivity (round-2 fix): the driver's value hash sees pandas dtypes,
so DuckDB HUGEINT (uncast SUM(int) → float64 in pandas) vs Spark BIGINT
(int64) hash-mismatches even when values are equal. We compare the numeric
KIND (int vs float vs bool) per column and report DTYPE-MISMATCH — values
being equal is not enough.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from spark_skew_join_spark.sources.tables import TABLES, get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _q(v, sig=9):
    if isinstance(v, float):
        if v == 0 or math.isnan(v) or math.isinf(v):
            return v
        return round(v, sig - 1 - math.floor(math.log10(abs(v))))
    return v


def _kind_spark(t: str) -> str:
    """Pandas-kind a Spark simpleString type lands as in the driver."""
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t == "boolean":
        return "bool"
    if t.startswith("decimal"):
        return "decimal"  # pandas object(Decimal) — flags vs DuckDB's float64
    return "other"


def _kind_duck(t: str) -> str:
    """Pandas-kind a DuckDB type lands as (HUGEINT/DECIMAL become float64)."""
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE", "HUGEINT") or t.startswith("DECIMAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    return "other"


def norm_rows(cols, rows, quant):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = tuple((_q(r[i]) if quant else r[i]) for i in order)
        out.append(tuple(str(v) if not isinstance(v, (int, float)) or isinstance(v, bool) else v for v in vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def compare(sdf, con, sql: str) -> str:
    """EXACT / CLOSE / a failure label for a Spark frame against its
    oracle SQL run on ``con``; "Usage" above describes each label."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    try:
        cur = con.execute(sql)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        dtyped = dict(
            (r[0], r[1])
            for r in con.execute(f"DESCRIBE {sql}").fetchall()
        )
    except Exception as e:
        return f"DUCK-ERROR {type(e).__name__}: {str(e).splitlines()[0][:140]}"
    if sorted(scols) != sorted(dcols):
        return f"COLS-MISMATCH spark={sorted(scols)} duck={sorted(dcols)}"
    styped = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    badcols = [
        (c, styped[c], dtyped[c])
        for c in scols
        if _kind_spark(styped[c]) != _kind_duck(dtyped[c])
        and "other" not in (_kind_spark(styped[c]), _kind_duck(dtyped[c]))
    ]
    if badcols:
        return f"DTYPE-MISMATCH {badcols} (driver hash is type-sensitive)"
    if len(srows) != len(drows):
        return f"COUNT-MISMATCH spark={len(srows)} duck={len(drows)}"
    se, de = norm_rows(scols, srows, False), norm_rows(dcols, drows, False)
    if se == de:
        return f"EXACT n={len(srows)}"
    sq, dq = norm_rows(scols, srows, True), norm_rows(dcols, drows, True)
    if sq == dq:
        return f"CLOSE n={len(srows)} (floats differ below 9 sig digits)"
    diff = next(
        (i, a, b) for i, (a, b) in enumerate(zip(sq, dq)) if a != b
    )
    return f"MISMATCH n={len(srows)} first-diff@{diff[0]}\n    spark: {diff[1]}\n    duck:  {diff[2]}"


def main():
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = get_spark("selfcheck")
    con = duck_con(SF_DIR)
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            if name not in oracles:
                results[name] = f"ROWS-ONLY n={sdf.count()}"
                continue
            results[name] = compare(sdf, con, oracles[name])
        except Exception as e:
            results[name] = f"SPARK-ERROR {type(e).__name__}: {str(e).splitlines()[0][:140]}"
    width = max(len(n) for n in results)
    for name, res in results.items():
        print(f"{name:<{width}}  {res}")
    bad = sum(1 for r in results.values() if not r.startswith(("EXACT", "CLOSE", "ROWS-ONLY")))
    print(f"\n{len(results)} queries, {bad} failing")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
