"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, scale)`` and is written as
parquet with pyarrow, so Spark and DuckDB read byte-identical inputs.

* ``zipf``: a fact table whose join key is Zipf-distributed over the
  dimension's key space (the hottest key holds about 38% of the rows at
  exponent 1.5) and a dimension table with one row per key, minus every
  key ending in 7 so outer and anti joins have unmatched rows.
* ``tpch``: the star schema of the package's query registry
  (``sources.tables.TABLES``) at the shapes and value ranges of the
  sf0.1 fixtures: uniform ``o_custkey`` (peak about 24 orders per
  customer) and near-uniform ``l_suppkey`` (about 600 lines per
  supplier).
* ``documents``: a corpus with a 31-word vocabulary, language marker
  words, a few exact duplicates and planted near duplicates (a copy with
  one extra word), as in the sf0.1 ``documents`` fixture.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_EXPONENT = 1.5


@dataclass(frozen=True)
class Scale:
    """Row counts of one benchmark size."""

    zipf_left: int
    zipf_keys: int
    tpch_orders: int
    documents: int


SCALES = {
    "full": Scale(zipf_left=250_000, zipf_keys=300_000, tpch_orders=150_000, documents=1_500),
    "tiny": Scale(zipf_left=20_000, zipf_keys=2_000, tpch_orders=1_500, documents=300),
}


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws of ranks 1..n_keys with P(rank) proportional to rank**-s."""
    cdf = np.cumsum(1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right") + 1


def gen_zipf(out_dir: str, seed: int, scale: Scale) -> dict:
    """Write ``left.parquet`` (k, l_val, l_amt) and ``right.parquet``
    (k, r_val, r_tag); return the generator facts the benchmark records."""
    rng = np.random.default_rng(seed)
    n, n_keys = scale.zipf_left, scale.zipf_keys
    ranks = zipf_keys(rng, n, n_keys, ZIPF_EXPONENT)
    # a seeded relabelling, so the identity of the hot keys changes per seed
    labels = rng.permutation(n_keys).astype(np.int64) * 10 + rng.integers(0, 10, n_keys)
    k = labels[ranks - 1]
    left = pa.table(
        {
            "k": k,
            "l_val": rng.integers(0, 1_000_000, n, dtype=np.int64),
            "l_amt": np.round(rng.random(n) * 1000.0, 2),
        }
    )
    rk = np.sort(labels[labels % 10 != 7])
    # incompressible tags keep the dimension above Spark's 10 MB
    # broadcast threshold, so the plain join shuffles both sides
    tags = rng.integers(0, 1 << 62, (len(rk), 3), dtype=np.int64).tolist()
    right = pa.table(
        {
            "k": rk,
            "r_val": rng.integers(0, 1_000_000, len(rk), dtype=np.int64),
            "r_tag": pa.array([f"tag-{a:016x}{b:016x}{c:016x}" for a, b, c in tags]),
        }
    )
    # several row groups so the fact scan splits across cores
    _write(left, os.path.join(out_dir, "left.parquet"), row_group_size=max(1, n // 8))
    _write(right, os.path.join(out_dir, "right.parquet"))
    counts = np.bincount(ranks, minlength=n_keys + 1)
    top = np.argsort(-counts)[:8]
    return {
        "left_rows": n,
        "right_rows": len(rk),
        "zipf_exponent": ZIPF_EXPONENT,
        "hot_key_share": float(counts.max() / n),
        "right_bytes": os.path.getsize(os.path.join(out_dir, "right.parquet")),
        # the generator's hottest keys and their true counts (CMS accuracy)
        "top_keys": [(int(labels[r - 1]), int(counts[r])) for r in top if counts[r]],
    }


_DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(end, "D").astype(np.int64)
    return int(a), int(b)


def _ts(rng, n, start, end) -> pa.Array:
    lo, hi = _days(start, end)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, type=pa.timestamp("us"))


def _choice(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def gen_tpch(out_dir: str, seed: int, scale: Scale) -> dict:
    """The registry's ten tables at the sf0.1 fixture shapes (rows scale
    with ``scale.tpch_orders``; sf0.1 has 150k orders)."""
    rng = np.random.default_rng(seed)
    n_ord = scale.tpch_orders
    n_cust, n_supp, n_part = n_ord // 10, max(10, n_ord // 150), max(200, n_ord * 2 // 15)
    n_line = n_ord * 4
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": _choice(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(
                            np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])[
                                rng.integers(0, 8, n_part)
                            ],
                            " ",
                        ),
                        np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])[
                            rng.integers(0, 8, n_part)
                        ],
                    ).astype(object)
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
                "p_type": _choice(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _choice(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _choice(rng, ["O", "F"], n_line),
                "l_shipdate": _ts(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
    }
    # load_tables opens every registry table; the two the workloads never
    # read are written small, with the fixture schema
    n_ev = 1000
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                1_704_067_200_000_000 + np.sort(rng.integers(0, 86_400_000_000, n_ev)),
                type=pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, 2000, n_ev, dtype=np.int64),
            "event_type": _choice(rng, ["view", "click", "signup", "purchase", "error"], n_ev),
            "value": np.round(rng.uniform(0, 200, n_ev), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev).tolist()]),
        }
    )
    n_emb = 500
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 4, n_emb), pa.int32()),
        }
    )
    tables["documents"] = documents_table(np.random.default_rng(seed + 1), scale.documents)[0]
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row agg key query a scan batch"
).split()
# marker words of functions.text.LANG_MARKERS, so lang_id has signal
LANG_WORDS = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "y"],
    "zh": [],
}
LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]


def documents_table(rng: np.random.Generator, n_docs: int) -> tuple[pa.Table, list]:
    """``n_docs`` documents; returns the table and the planted near-duplicate
    pairs ``(original_id, copy_id)``."""
    texts, langs = [], []
    planted = []
    vocab = np.array(VOCAB, dtype=object)
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.05:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            langs.append(langs[j])
            planted.append((j, i))
            continue
        if i >= 20 and r < 0.052:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        n_words = int(rng.integers(10, 101))
        words = vocab[rng.integers(0, len(vocab), n_words)]
        markers = LANG_WORDS[lang]
        if markers:
            pos = rng.random(n_words) < 0.08
            words[pos] = np.array(markers, dtype=object)[rng.integers(0, len(markers), int(pos.sum()))]
        texts.append(" ".join(words.tolist()))
        langs.append(lang)
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, planted


def planted_pairs(seed: int, scale: Scale) -> list:
    """The near-duplicate pairs ``gen_tpch`` planted in ``documents``."""
    return documents_table(np.random.default_rng(seed + 1), scale.documents)[1]
