"""The three benchmark workloads: their inputs, their ops and their checks.

A workload is prepared before Spark starts (seeded inputs written to
parquet, DuckDB checksums of every op's expected output) and then opened
on a session, which yields the ops of one job in the order they run.

Each op calls the package only through its public surface:
``skew_join``, ``sketch.cms``, the ``operators.dedup`` functions,
``functions.text`` (through its registry queries) and
``queries.QUERIES``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field, replace
from typing import Callable

import duckdb

import check
import gen

TPCH_OPS = {
    # op name -> registry tables it reads (input rows it consumes)
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier_volume": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "q9_product_profit": ("lineitem", "part", "supplier", "orders", "nation"),
    "q18_large_volume_customers": ("lineitem", "orders", "customer"),
    "q21_waiting_suppliers": ("lineitem", "orders", "supplier", "nation"),
    "skew_join_lineitem_supplier": ("lineitem", "supplier"),
    "skew_join_orders_customer": ("orders", "customer"),
    "skew_join_left_outer": ("customer", "orders"),
    "skew_join_anti": ("customer", "orders"),
    "q3_via_skew_join": ("customer", "orders", "lineitem"),
}
TPCH_SKEW_LINES = {n for n in TPCH_OPS if "skew_join" in n}
# ops that are one ``queries.QUERIES[name](spark, sf_dir)`` call
REGISTRY_OPS = set(TPCH_OPS) | {"text_lang_id", "gopher_quality_docs"}


@dataclass
class Op:
    """One public call whose result the harness forces and checks.

    ``build`` returns the DataFrame to force; its own wall time is the
    op's *call* time (plan construction plus any eager pre-jobs).
    ``want`` is the expected checksum (compared on its keys). An op
    without one has ``verify``, an untimed check of the forced result
    that returns its problems.
    """

    name: str
    layer: str
    build: Callable
    input_rows: int
    want: dict | None = None
    verify: Callable | None = None


@dataclass
class Workload:
    name: str
    data_dir: str
    seed: int
    scale: gen.Scale
    facts: dict = field(default_factory=dict)
    wants: dict = field(default_factory=dict)

    def prepare(self) -> None:
        raise NotImplementedError

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def probes(self, spark, tracer) -> dict:
        """Untimed single-layer measurements of the traced run."""
        return {}


def force(df):
    """Force ``df`` through the noop sink, observing its checksum;
    returns (exec seconds, checksum)."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *check.spark_aggs(df))
    t = time.perf_counter()
    observed.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t, obs.get


def partition_skew(df) -> float:
    """Largest output partition over the median one."""
    from spark_skew_join_spark.operators.diagnostics import partition_stats

    s = partition_stats(df)
    return s.max / s.p50 if s.p50 else float(s.max)


def _duck(data_dir: str, views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``{view: parquet file stem}``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for view, stem in views.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{os.path.join(data_dir, stem)}.parquet'")
    return con


class SkewJoinZipf(Workload):
    """skew_join on a Zipf-keyed fact table against a wide dimension."""

    JOINS = (
        ("inner_exact", "inner", "exact", "inner"),
        ("left_exact", "left", "exact", "left"),
        ("anti_exact", "left_anti", "exact", "anti"),
        ("inner_cms", "inner", "cms", "inner"),
    )
    SQL = {
        "inner": "SELECT l.k AS k, l_val, l_amt, r_val, r_tag FROM l JOIN r USING (k)",
        "left": "SELECT l.k AS k, l_val, l_amt, r_val, r_tag FROM l LEFT JOIN r USING (k)",
        "anti": "SELECT * FROM l WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.k = l.k)",
    }

    def prepare(self) -> None:
        self.facts = gen.gen_zipf(self.data_dir, self.seed, self.scale)
        con = _duck(self.data_dir, {"l": "left", "r": "right"})
        self.wants = {k: check.duck_checksum(con, sql) for k, sql in self.SQL.items()}
        con.close()

    def tables(self, spark):
        read = lambda f: spark.read.parquet(os.path.join(self.data_dir, f"{f}.parquet"))  # noqa: E731
        return read("left"), read("right")

    def ops(self, spark) -> list[Op]:
        from spark_skew_join_spark import SkewJoinConf, skew_join

        left, right = self.tables(spark)
        rows = self.facts["left_rows"] + self.facts["right_rows"]
        ops = []
        for name, how, est, want in self.JOINS:
            conf = SkewJoinConf(estimator=est)
            ops.append(
                Op(
                    name=name,
                    layer="skew_join",
                    build=lambda how=how, conf=conf: skew_join(left, right, "k", how, conf),
                    input_rows=rows,
                    want=self.wants[want],
                )
            )
        return ops

    def probes(self, spark, tracer) -> dict:
        """The CMS build on the fact table and its accuracy on the
        generator's hottest keys, the plain ``left.join(right)`` time of
        every op, and the output partition balance of the inner join."""
        from spark_skew_join_spark import SkewJoinConf, skew_join
        from spark_skew_join_spark.sketch.cms import cms_from_dataframe

        left, right = self.tables(spark)
        builds = []
        for _ in range(2):
            with tracer.span("sketch.cms_from_dataframe", -1):
                t = time.perf_counter()
                cms = cms_from_dataframe(left, ["k"])
                builds.append(time.perf_counter() - t)
        plain = {}
        for how in dict.fromkeys(how for _, how, _, _ in self.JOINS):
            times = []
            for _ in range(2):
                with tracer.span(f"plain_join.{how}", -1):
                    t = time.perf_counter()
                    df = left.join(right, "k", how)
                    call = time.perf_counter() - t
                    times.append(call + force(df)[0])
            plain[how] = statistics.median(times)
        return {
            "cms_build_s": statistics.median(builds),
            "cms_rel_error": statistics.mean(
                (cms.estimate(k) - n) / n for k, n in self.facts["top_keys"]
            ),
            "plain_s": {name: plain[how] for name, how, _, _ in self.JOINS},
            "out_partition_skew": partition_skew(skew_join(left, right, "k", "inner", SkewJoinConf())),
        }


class TpchQueries(Workload):
    """Registry queries and skew-join lines over the TPC-H star schema."""

    def prepare(self) -> None:
        from spark_skew_join_spark.queries import ORACLES
        from spark_skew_join_spark.sources.tables import TABLES

        self.facts = gen.gen_tpch(self.data_dir, self.seed, self.scale)
        con = _duck(self.data_dir, {t: t for t in TABLES})
        self.wants = {n: check.duck_checksum(con, ORACLES[n]) for n in TPCH_OPS}
        con.close()

    def ops(self, spark) -> list[Op]:
        from spark_skew_join_spark.queries import QUERIES

        return [
            Op(
                name=n,
                layer="skew_join" if n in TPCH_SKEW_LINES else "queries",
                build=lambda n=n: QUERIES[n](spark, self.data_dir),
                input_rows=sum(self.facts[t] for t in tables),
                want=self.wants[n],
            )
            for n, tables in TPCH_OPS.items()
        ]

    def probes(self, spark, tracer) -> dict:
        """Output partition balance of the lineitem-supplier skew join."""
        from spark_skew_join_spark.queries import QUERIES

        df = QUERIES["skew_join_lineitem_supplier"](spark, self.data_dir)
        return {"out_partition_skew": partition_skew(df)}


SHINGLE_SQL = """
SELECT doc_id FROM (
  SELECT DISTINCT doc_id, SUBSTRING(text, CAST(pos AS INT), 8) AS shingle
  FROM documents, UNNEST(range(1, GREATEST(LENGTH(text) - 8 + 1, 1) + 1)) AS t(pos)
  WHERE LENGTH(text) >= 8
) s
"""


def shingle_set(text: str, n: int = 8) -> set:
    """The distinct ``n``-character substrings of ``text``."""
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter) if sa or sb else 0.0


# LSH banding finds a pair only with some probability, so planted near
# duplicates need only this share found; exact duplicates (identical
# signatures, a collision in every band) must all be found
MIN_PLANTED_RECALL = 0.9


def check_pairs(rows, texts: list[str], exact_dups: set, planted: set, threshold: float = 0.5) -> list[str]:
    """Problems with a ``minhash_pairs`` result: every emitted pair must
    be ordered, unique and truly at or above ``threshold`` with the exact
    Jaccard it reports; every ``exact_dups`` pair and at least
    ``MIN_PLANTED_RECALL`` of the ``planted`` pairs must be emitted."""
    problems = []
    seen = set()
    for id_a, id_b, jac in rows:
        if not id_a < id_b or (id_a, id_b) in seen:
            problems.append(f"pair ({id_a}, {id_b}) out of order or repeated")
        seen.add((id_a, id_b))
        exact = jaccard(texts[id_a], texts[id_b])
        if exact < threshold or abs(exact - jac) > 1e-9:
            problems.append(f"pair ({id_a}, {id_b}) reports {jac}, exact Jaccard {exact}")
    missing = exact_dups - seen
    if missing:
        problems.append(f"{len(missing)} exact-duplicate pairs missing, e.g. {sorted(missing)[:3]}")
    if planted and len(planted & seen) < MIN_PLANTED_RECALL * len(planted):
        problems.append(f"found {len(planted & seen)} of {len(planted)} planted near-duplicate pairs")
    return problems[:5]


class LlmDedupDocs(Workload):
    """Exact and MinHash dedup plus text annotation over a document corpus."""

    def prepare(self) -> None:
        from spark_skew_join_spark.queries import ORACLES
        from spark_skew_join_spark.sources.tables import TABLES

        # the star-schema tables only need to exist (load_tables opens them)
        small = replace(self.scale, tpch_orders=min(self.scale.tpch_orders, 1500))
        self.facts = gen.gen_tpch(self.data_dir, self.seed, small)
        con = _duck(self.data_dir, {t: t for t in TABLES})
        self.wants = {
            "exact_dedup": check.duck_checksum(con, ORACLES["dedup_exact_docs"]),
            "shingles": check.duck_checksum(con, SHINGLE_SQL),
            "text_lang_id": check.duck_checksum(con, ORACLES["text_lang_id"]),
            "gopher_quality_docs": check.duck_checksum(con, ORACLES["gopher_quality_docs"]),
        }
        self.texts = [r[0] for r in con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()]
        con.close()
        # pairs the result is checked for: exact duplicates (each later copy
        # with the first) and planted near duplicates at or above 0.5
        first: dict[str, int] = {}
        self.exact_dups = set()
        for i, t in enumerate(self.texts):
            if t in first:
                self.exact_dups.add((first[t], i))
            else:
                first[t] = i
        self.planted = {
            (min(a, b), max(a, b))
            for a, b in gen.planted_pairs(self.seed, self.scale)
            if jaccard(self.texts[a], self.texts[b]) >= 0.5
        } - self.exact_dups
        self.facts["exact_dup_pairs"] = len(self.exact_dups)
        self.facts["planted_pairs"] = len(self.planted)
        self.pair_counts: list[int] = []

    def _verify_pairs(self, df) -> list[str]:
        rows = [(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()]
        self.pair_counts.append(len(rows))
        return check_pairs(rows, self.texts, self.exact_dups, self.planted)

    def ops(self, spark) -> list[Op]:
        from spark_skew_join_spark.operators import dedup
        from spark_skew_join_spark.queries import QUERIES
        from spark_skew_join_spark.sources.tables import load_tables

        docs = load_tables(spark, self.data_dir)["documents"]
        n = self.facts["documents"]
        sh = {}

        def build_shingles():
            # eager, like the package's own dedup family; registered in the
            # dedup cache ledger so the job's release frees it
            sh["df"] = dedup.register_ckpt(dedup.shingles(docs, n=8).localCheckpoint())
            return sh["df"]

        def build_pairs():
            return dedup.minhash_pairs(docs, threshold=0.5, n=8, shingle_df=sh["df"])

        def query(name):
            return lambda: QUERIES[name](spark, self.data_dir)

        return [
            Op("exact_dedup", "dedup", lambda: dedup.exact_dedup(docs), n, self.wants["exact_dedup"]),
            Op("shingles", "dedup", build_shingles, n, self.wants["shingles"]),
            Op("minhash_pairs", "dedup", build_pairs, n, verify=self._verify_pairs),
            Op("text_lang_id", "text", query("text_lang_id"), n, self.wants["text_lang_id"]),
            Op("gopher_quality_docs", "text", query("gopher_quality_docs"), n, self.wants["gopher_quality_docs"]),
        ]


WORKLOADS = {
    "skew_join_zipf": SkewJoinZipf,
    "tpch_sf0.1": TpchQueries,
    "llm_dedup_docs": LlmDedupDocs,
}
