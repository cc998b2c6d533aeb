"""Extension-operator tests: as-of join, range join, multimodal plumbing,
dedup family, similarity recall, diagnostics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark.operators.asof import asof_join, range_join
from spark_skew_join_spark.operators.dedup import (
    dedup,
    exact_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from spark_skew_join_spark.operators.diagnostics import (
    partition_stats,
    timed_save,
)
from spark_skew_join_spark.operators.multimodal import (
    attach_binary,
    extract_features,
)
from spark_skew_join_spark.operators.similarity import cosine_topk, lsh_topk


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [("A", 10, 1), ("A", 25, 2), ("B", 5, 3), ("A", 3, 4)],
        "sym string, ts bigint, trade_id bigint",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 100.0), ("A", 20, 101.0), ("B", 9, 50.0)],
        "sym string, ts bigint, px double",
    )
    out = asof_join(trades, quotes, "sym", "ts", "ts", ["px"]).collect()
    got = {r["trade_id"]: r["px"] for r in out}
    # trade A@10 → quote A@5; A@25 → A@20; B@5 → none; A@3 → none
    assert got == {1: 100.0, 2: 101.0, 3: None, 4: None}


def test_asof_join_equal_ts_inclusive(spark):
    left = spark.createDataFrame([("A", 20, 1)], "k string, ts bigint, id bigint")
    right = spark.createDataFrame([("A", 20, 7.0)], "k string, ts bigint, v double")
    out = asof_join(left, right, "k", "ts", "ts", ["v"]).collect()
    assert out[0]["v"] == 7.0  # ASOF uses <=, right row at equal ts matches


def test_asof_tolerance(spark):
    left = spark.createDataFrame([("A", 100, 1)], "k string, ts bigint, id bigint")
    right = spark.createDataFrame([("A", 10, 7.0)], "k string, ts bigint, v double")
    out = asof_join(left, right, "k", "ts", "ts", ["v"], tolerance=50).collect()
    assert out[0]["v"] is None  # 90 > 50 gap → outside tolerance


def test_asof_null_in_right_value_latest_row_wins(spark):
    """merge_asof semantics: the latest prior right ROW wins even when its
    value column is NULL — values must not be stitched from older rows."""
    left = spark.createDataFrame(
        [("A", 25, 1), ("A", 100, 2)], "k string, ts bigint, id bigint"
    )
    right = spark.createDataFrame(
        [("A", 5, 100.0, 1.0), ("A", 20, None, 2.0)],
        "k string, ts bigint, px double, qty double",
    )
    out = {r["id"]: (r["px"], r["qty"]) for r in
           asof_join(left, right, "k", "ts", "ts", ["px", "qty"]).collect()}
    # latest right row at ts=20 has px NULL — both values come from that row
    assert out == {1: (None, 2.0), 2: (None, 2.0)}


def test_asof_tolerance_uses_latest_row(spark):
    """Tolerance must compare against the ts of the row the values came
    from: a recent NULL-px row inside tolerance wins over an old non-null."""
    left = spark.createDataFrame([("A", 100, 1)], "k string, ts bigint, id bigint")
    right = spark.createDataFrame(
        [("A", 10, 7.0), ("A", 90, None)], "k string, ts bigint, px double"
    )
    out = asof_join(left, right, "k", "ts", "ts", ["px"], tolerance=50).collect()
    assert out[0]["px"] is None  # latest row (ts=90, in tolerance) has NULL px


def test_range_join_matches_theta(spark):
    left = spark.createDataFrame(
        [(k % 5, float(k)) for k in range(1000)], "k bigint, v double"
    )
    right = spark.createDataFrame(
        [(i, i * 100.0, i * 100.0 + 250.0) for i in range(5)],
        "k bigint, lo double, hi double",
    )
    fast = range_join(left, right, "k", "v", "lo", "hi", bucket_width=100.0)
    slow = left.join(right, on="k").where(
        (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    )
    assert fast.count() == slow.count()
    assert fast.exceptAll(slow.select(*fast.columns)).count() == 0


def test_multimodal_stub_pipeline(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different")],
        "doc_id bigint, text string",
    )
    feats = extract_features(attach_binary(docs, "text")).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["content_sha"] == by_id[2]["content_sha"]
    assert by_id[1]["content_sha"] != by_id[3]["content_sha"]
    assert by_id[1]["byte_len"] == len(b"hello world")
    assert len(by_id[1]["features"]) == 16
    assert by_id[1]["features"] == by_id[2]["features"]  # deterministic


def test_multimodal_real_decoder_stubbed(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with pytest.raises(NotImplementedError):
        extract_features(attach_binary(docs, "text"), decoder="pil")
    with pytest.raises(ValueError):
        extract_features(attach_binary(docs, "text"), decoder="nope")


def test_multimodal_resize(spark):
    import hashlib

    from spark_skew_join_spark.operators.multimodal import resize_images

    docs = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, "other")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in resize_images(
        attach_binary(docs, "text"), 64, 48).collect()}
    assert out[1].width == 64 and out[1].height == 48
    assert bytes(out[1].resized) == bytes(out[2].resized) != bytes(out[3].resized)
    assert bytes(out[1].resized) == hashlib.md5(b"r64x48:hello").digest()
    with pytest.raises(NotImplementedError):
        resize_images(attach_binary(docs, "text"), 64, 48, decoder="pil")


def test_multimodal_frame_sampling(spark):
    import hashlib

    from spark_skew_join_spark.operators.multimodal import sample_frames

    docs = spark.createDataFrame(
        [(1, "x" * 250), (2, "y" * 50), (3, "z" * 10_000), (4, "")],
        "doc_id bigint, text string",
    )
    rows = sample_frames(
        attach_binary(docs, "text"), every_ms=100, max_frames=4
    ).collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r.doc_id, []).append(r)
    # 250 bytes -> ceil(250/100)=3 frames; 50 -> 1; 10k -> capped at 4; empty -> 0
    assert sorted(len(v) for k, v in by_id.items()) == [1, 3, 4]
    assert 4 not in by_id
    f = sorted(by_id[1], key=lambda r: r.frame_idx)
    assert [r.ts_ms for r in f] == [0, 100, 200]
    assert bytes(f[1].frame) == hashlib.md5(b"f1:" + b"x" * 250).digest()


def test_exact_dedup_multiplicity(spark):
    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "aaa")],
        "doc_id bigint, text string",
    )
    res = {r["rep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert res == {1: 3, 3: 1}
    kept = {r["doc_id"] for r in dedup(docs).collect()}
    assert kept == {1, 3}


def test_jaccard_finds_near_dups_not_distinct(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "hazy")
    other = "completely unrelated text about spark dataframes and shuffles"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id bigint, text string"
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


@pytest.mark.slow
def test_minhash_agrees_with_exact_jaccard(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("seven", "7even")),
            (3, "nothing in common with anything here at all whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    mh = {(r["id_a"], r["id_b"]) for r in minhash_pairs(docs, threshold=0.5, n=5).collect()}
    assert (1, 2) in mh and all(3 not in p for p in mh)


def test_jaccard_for_pairs_matches_full_table(spark):
    """Candidate-scoped Jaccard == the all-pairs computation restricted to
    those pairs (the minhash verify correctness argument): the same
    intersection, sizes and Jaccard, and a self-pair counts each side
    once."""
    from spark_skew_join_spark.operators.dedup import jaccard_for_pairs, shingles

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "the quick brown fox jumps over the hazy dog again"),
        (3, "completely unrelated text about spark shuffles here"),
        (4, "the quick brown fox jumps over the lazy dog again"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    cols = ("inter", "size_a", "size_b", "jaccard")
    full = {
        (r["id_a"], r["id_b"]): tuple(r[c] for c in cols)
        for r in ngram_jaccard_pairs(docs, threshold=0.0, n=5).collect()
    }
    sh = shingles(docs, n=5)
    n4 = sh.where("doc_id = 4").count()
    full[(4, 4)] = (n4, n4, n4, 1.0)
    want = {(1, 2), (1, 4), (2, 3), (4, 4)}
    cand = spark.createDataFrame(sorted(want), "id_a bigint, id_b bigint")
    scoped = {
        (r["id_a"], r["id_b"]): tuple(r[c] for c in cols)
        for r in jaccard_for_pairs(cand, sh).collect()
    }
    assert scoped == {k: v for k, v in full.items() if k in want}
    assert {(1, 2), (1, 4), (4, 4)} <= set(scoped)


@pytest.mark.slow
def test_embedding_lsh_matches_bruteforce(spark):
    import random

    from spark_skew_join_spark.operators.dedup import (
        embedding_near_dup,
        embedding_near_dup_lsh,
    )

    rng = random.Random(7)
    rows = []
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in v]))
        if i < 10:  # jittered twin → cosine ~0.9999
            rows.append((i + 100, [float(x + rng.gauss(0, 0.01)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    brute = {
        (r["id_a"], r["id_b"], round(r["cos"], 9))
        for r in embedding_near_dup(df, threshold=0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], round(r["cos"], 9))
        for r in embedding_near_dup_lsh(
            df, threshold=0.9, dim=16, n_bands=16, band_bits=2
        ).collect()
    }
    assert len(brute) == 10
    assert lsh == brute  # verify → precision 1; banding params → full recall here


def test_simhash_near_dup_close_distance(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("kappa", "kappb")), (3, "zzz yyy xxx www vvv")],
        "doc_id bigint, text string",
    )
    h = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(h[1], h[2]) < ham(h[1], h[3])


def test_lsh_recall_against_bruteforce(spark):
    import random

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 100, [float(x + rng.gauss(0, 0.01)) for x in v]))  # near-dup
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = df.where(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, q, k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(df, q, k=1, dim=16, n_bands=8, band_bits=2).collect()
    }
    # rank-1 neighbor of each query is its jittered twin; LSH should find most
    assert len(brute & approx) >= 3


def test_lsh_topk_probes_overcap_buckets_via_sample(spark):
    """VERDICT r3 #6: a degenerate corpus (one tight cluster → every member
    in the same band buckets) must NOT lose all recall when the bucket
    exceeds max_bucket_size — over-cap buckets are probed through a
    deterministic ~cap-member sample instead of being dropped."""
    import random

    rng = random.Random(7)
    center = [rng.gauss(0, 1) for _ in range(16)]
    rows = [
        (i, [float(x + rng.gauss(0, 0.01)) for x in center]) for i in range(200)
    ]
    # a few scattered background vectors (their own buckets, under cap)
    rows += [
        (1000 + i, [float(rng.gauss(0, 1)) for _ in range(16)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = df.where(F.col("vec_id") < 5)
    got = lsh_topk(
        df, q, k=3, dim=16, n_bands=8, band_bits=2, max_bucket_size=20
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # every query sits in the 200-member cluster whose buckets are all
    # over-cap (200 > 20); the old drop behavior returned only scattered
    # background neighbors (or nothing). The sampled probe must surface
    # cluster members: each query gets k rows and they are cluster ids.
    assert len(by_q) == 5, by_q
    for qid, ns in by_q.items():
        assert len(ns) == 3, (qid, ns)
        assert all(n < 1000 for n in ns), (qid, ns)


def test_lsh_multiprobe_full_coverage_equals_bruteforce(spark):
    """probe_codes = 2**band_bits probes every bucket of every band, so the
    candidate set is the whole corpus and the exact re-rank IS brute force
    (the ann_lsh_refined_topk certification setting — VERDICT r9 #4)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(16)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = df.where(F.col("vec_id") < 4)
    brute = sorted(
        tuple(r) for r in cosine_topk(df, q, k=5, dim=16).collect()
    )
    full = sorted(
        tuple(r)
        for r in lsh_topk(
            df, q, k=5, dim=16, n_bands=4, band_bits=3,
            probe_codes=8, max_bucket_size=None,
        ).collect()
    )
    assert full == brute


def test_lsh_multiprobe_recall_monotone(spark):
    """More probed codes ⇒ superset candidates ⇒ the exact re-rank's recall
    vs brute force can only rise (Lv et al. 2007's selling point: recall
    without more bands or corpus-side work)."""
    import random

    rng = random.Random(5)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(30)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 100, [float(x + rng.gauss(0, 0.02)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = df.where(F.col("vec_id") < 6)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, q, k=3, dim=16).collect()
    }

    def recall(pc):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_topk(
                df, q, k=3, dim=16, n_bands=2, band_bits=4, probe_codes=pc
            ).collect()
        }
        return len(got & brute) / len(brute)

    r1, r4, r16 = recall(1), recall(4), recall(16)
    assert r1 <= r4 <= r16
    assert r16 == 1.0  # full coverage


def test_lsh_probe_codes_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id bigint, embedding array<float>"
    )
    for bad in (0, 17):
        with pytest.raises(ValueError, match="probe_codes"):
            lsh_topk(df, df, k=1, dim=8, band_bits=4, probe_codes=bad)


def test_band_cache_modes_same_result_and_cleanup(spark):
    """Uncached, persisted and checkpointed band caches give identical
    rows; clear_band_cache returns the ledger to its starting snapshot
    and leaves no warehouse table behind."""
    from spark_skew_join_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again!"),
            (3, "completely different text with no overlap whatsoever in it"),
        ],
        "doc_id bigint, text string",
    )
    dd.clear_band_cache()  # earlier tests may leave entries registered
    snap = dd.cache_snapshot()
    got = {
        mode: sorted(
            tuple(r)
            for r in dd.minhash_pairs(docs, threshold=0.5, cache_bands=mode).collect()
        )
        for mode in (False, True, "ckpt")
    }
    assert got[False] == got[True] == got["ckpt"]
    assert (1, 2) in {(a, b) for a, b, _ in got[True]}
    assert dd.cache_snapshot() != snap
    dd.clear_band_cache()
    assert dd.cache_snapshot() == snap
    left = [t.name for t in spark.catalog.listTables() if "__sgsj_spill" in t.name]
    assert not left, left


@pytest.mark.parametrize("mode", ["tabel", "table", "auto"])
def test_band_cache_rejects_unknown_modes(spark, mode):
    from spark_skew_join_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    snap = dd.cache_snapshot()
    with pytest.raises(ValueError, match="cache mode"):
        dd.minhash_pairs(docs, threshold=0.5, cache_bands=mode)
    assert dd.cache_snapshot() == snap


def test_connected_components_chains_and_singletons(spark):
    from spark_skew_join_spark.operators.cluster import connected_components

    # chain 1-2-3, pair 10-11, singletons 20, 21
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a bigint, id_b bigint"
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id bigint"
    )
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components(pairs, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 21}


def test_connected_components_long_chain_converges(spark):
    from spark_skew_join_spark.operators.cluster import connected_components

    n = 12  # diameter 12 chain — needs multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
    )
    verts = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id bigint")
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components(pairs, verts).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_dedup_fuzzy_keeps_cluster_reps(spark):
    from spark_skew_join_spark.operators.cluster import dedup_fuzzy

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (7, "d")], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    kept = {r["doc_id"] for r in dedup_fuzzy(docs, pairs).collect()}
    assert kept == {1, 7}


def test_udtf_split_sentences(spark):
    from spark_skew_join_spark.functions.udtf import (
        SplitSentences,
        register_split_sentences,
    )

    # pure-Python eval contract
    assert list(SplitSentences().eval("One. Two.  Three")) == [
        (0, "One"), (1, "Two"), (2, "Three")
    ]
    assert list(SplitSentences().eval("")) == []
    # LATERAL join through Spark SQL
    register_split_sentences(spark)
    spark.createDataFrame(
        [(1, "Hello there. Bye."), (2, "Solo")], "doc_id bigint, text string"
    ).createOrReplaceTempView("udtf_t")
    rows = spark.sql(
        "SELECT doc_id, sent_idx, sentence FROM udtf_t, LATERAL split_sentences(text)"
    ).collect()
    got = {(r["doc_id"], r["sent_idx"]): r["sentence"] for r in rows}
    assert got == {(1, 0): "Hello there", (1, 1): "Bye.", (2, 0): "Solo"}


def test_udaf_weighted_avg_price(spark):
    from pyspark.sql import functions as F

    from spark_skew_join_spark.functions.udtf import weighted_avg_price_udf

    df = spark.createDataFrame(
        [("A", 10.00, 1.0), ("A", 20.00, 3.0), ("B", 5.50, 2.0)],
        "k string, price double, qty double",
    )
    wap = weighted_avg_price_udf()
    got = {
        r["k"]: r["w"]
        for r in df.groupBy("k").agg(wap("price", "qty").alias("w")).collect()
    }
    assert got["A"] == (1000 * 1 + 2000 * 3) / (100.0 * 4)  # 17.5
    assert got["B"] == 5.50


def test_timed_save_noop(spark):
    df = spark.range(1000)
    secs = timed_save(df, "range_noop")
    assert secs > 0


def test_partition_stats_counts_trailing_empty_partitions(spark):
    """Empty partitions (incl. trailing ones that emit no pid) must appear
    in the stats — they're exactly what skew diagnostics need to see."""
    df = spark.range(1).repartition(8)
    s = partition_stats(df)
    assert s.num_partitions == 8
    assert s.total_records == 1
    assert s.p50 == 0  # median over 8 partitions, 7 of them empty


def test_partition_stats_shape(spark):
    df = spark.range(0, 10_000, 1, 8)
    s = partition_stats(df)
    assert s.num_partitions == 8
    assert s.total_records == 10_000
    assert s.min <= s.p25 <= s.p50 <= s.p75 <= s.max


def test_asof_join_randomized_vs_pandas(spark):
    """Property check: asof_join ≡ pandas.merge_asof on random data."""
    import random

    import pandas as pd

    rng = random.Random(11)
    lrows = sorted(
        {(rng.choice("ABC"), rng.randint(0, 1000)) for _ in range(300)}
    )
    rrows = sorted({(rng.choice("ABC"), rng.randint(0, 1000)) for _ in range(80)})
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "k string, ts bigint, lid bigint"
    )
    right = spark.createDataFrame(
        [(k, t, float(t)) for k, t in rrows], "k string, ts bigint, px double"
    )
    got = {
        r["lid"]: r["px"]
        for r in asof_join(left, right, "k", "ts", "ts", ["px"]).collect()
    }
    lp = pd.DataFrame(lrows, columns=["k", "ts"]).assign(lid=range(len(lrows)))
    rp = pd.DataFrame(rrows, columns=["k", "ts"]).assign(px=lambda d: d.ts.astype(float))
    exp_df = pd.merge_asof(
        lp.sort_values("ts"), rp.sort_values("ts"), on="ts", by="k"
    )
    exp = {
        int(r.lid): (None if pd.isna(r.px) else float(r.px))
        for r in exp_df.itertuples()
    }
    assert got == exp


def _make_bmp(w, h, seed=0):
    import numpy as np

    from spark_skew_join_spark.operators.multimodal import encode_bmp

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    return arr, encode_bmp(arr)


def _make_wav(n, sr=8000, freq=440.0):
    import io
    import wave

    import numpy as np

    t = np.arange(n) / sr
    samples = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(samples.tobytes())
    return samples, buf.getvalue()


def test_bmp_codec_roundtrip_and_validation():
    import numpy as np
    import pytest

    from spark_skew_join_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    # odd width exercises the 4-byte row padding
    arr, payload = _make_bmp(13, 7, seed=3)
    assert np.array_equal(decode_bmp(payload), arr)
    assert np.array_equal(decode_bmp(encode_bmp(arr)), arr)
    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"JUNK" * 20)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(payload[:-10])


def test_wav_codec_and_validation():
    import numpy as np
    import pytest

    from spark_skew_join_spark.operators.multimodal import decode_wav

    samples, payload = _make_wav(4000)
    got, sr, nch = decode_wav(payload)
    assert sr == 8000 and nch == 1
    assert np.array_equal(got[:, 0], samples)
    with pytest.raises(ValueError, match="WAV"):
        decode_wav(b"not audio at all")


def test_real_bmp_features_through_spark(spark):
    import numpy as np

    from spark_skew_join_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    arrs, rows = [], []
    for i in range(4):
        arr, payload = _make_bmp(16 + i, 9, seed=i)
        arrs.append(arr)
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r["doc_id"]: r for r in extract_features(df, decoder="bmp").collect()}
    for i, arr in enumerate(arrs):
        f = out[i]["features"]
        assert len(f) == FEATURE_DIM
        # feature 0-2: per-channel means from the REAL pixels
        for c in range(3):
            assert abs(f[c] - arr[:, :, c].mean() / 255.0) < 1e-9
        # dims features carry the decoded geometry
        assert f[13] == 16.0 + i and f[14] == 9.0


def test_real_wav_features_through_spark(spark):
    from spark_skew_join_spark.operators.multimodal import extract_features

    _, payload = _make_wav(8000)  # exactly 1 s at 8 kHz
    df = spark.createDataFrame(
        [(0, bytearray(payload))], "doc_id long, content binary"
    )
    f = extract_features(df, decoder="wav").collect()[0]["features"]
    assert abs(f[0] - 1.0) < 1e-9          # duration_s
    assert 0.40 < f[1] < 0.46              # rms = A/sqrt(2) of a 0.61 sine
    assert abs(f[2] - 20000 / 32768) < 0.01  # peak
    assert 0.05 < f[3] < 0.2               # zcr ~ 2*440/8000


def test_real_bmp_resize_through_spark(spark):
    import numpy as np

    from spark_skew_join_spark.operators.multimodal import (
        decode_bmp,
        resize_images,
    )

    arr, payload = _make_bmp(20, 10, seed=9)
    df = spark.createDataFrame(
        [(0, bytearray(payload))], "doc_id long, content binary"
    )
    out = resize_images(df, 5, 4, decoder="bmp").collect()[0]
    resized = decode_bmp(bytes(out["resized"]))
    assert resized.shape == (4, 5, 3)
    # nearest-neighbor: every output pixel is an exact source pixel
    yi = (np.arange(4) * 10 // 4).clip(0, 9)
    xi = (np.arange(5) * 20 // 5).clip(0, 19)
    assert np.array_equal(resized, arr[yi][:, xi])


def test_simhash_md5_mode_python_replay(spark):
    """VERDICT r8 #2: md5-mode fingerprints must be bit-identical to a
    pure-Python rebuild (distinct raw 8-char shingles → md5 prefix
    halves → sign-sum), i.e. genuinely SQL-replayable — and the mode
    rejects an (int64-hashed) shingle_df it cannot replay."""
    import hashlib

    import pytest

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "pack my box with five dozen liquor jugs today",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in simhash64(docs, n=8, hash_fn="md5").collect()}

    def expect(text, n=8):
        grams = {text[i:i + n] for i in range(len(text) - n + 1)}
        votes = [0] * 64
        seen = set()
        for g in grams:
            hx = hashlib.md5(g.encode()).hexdigest()
            hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
            if (hi, lo) in seen:
                continue
            seen.add((hi, lo))
            h = (hi << 32) | lo
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        code = sum(1 << i for i in range(64) if votes[i] > 0)
        return code - (1 << 64) if code >= (1 << 63) else code

    for d, text in texts.items():
        assert got[d] == expect(text), f"doc {d} fingerprint diverged"

    from spark_skew_join_spark.operators.dedup import shingles

    with pytest.raises(ValueError, match="md5 mode"):
        simhash64(docs, n=8, shingle_df=shingles(docs, n=8), hash_fn="md5")
