"""Streaming parity tests: replay the events parquet through a file-source
stream and compare the windowed results against the batch equivalents
(the standard streaming-correctness oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark.sources.tables import load_tables
from spark_skew_join_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_tables(spark, SF)["events"]


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, batch_events):
    stream = read_events_stream(spark, SF)
    got = run_to_memory(tumbling_counts(stream), "tumb")
    exp = tumbling_counts(batch_events)  # same fn works on batch DFs
    cols = ["hour_start", "event_type", "n_events"]
    assert _rows(got.select(*cols), cols) == _rows(exp.select(*cols), cols)


def test_sliding_stream_matches_batch(spark, batch_events):
    stream = read_events_stream(spark, SF)
    got = run_to_memory(sliding_counts(stream), "slide")
    exp = sliding_counts(batch_events)
    cols = ["win_start", "event_type", "n_events"]
    assert _rows(got.select(*cols), cols) == _rows(exp.select(*cols), cols)


def test_session_stream_counts(spark, batch_events):
    stream = read_events_stream(spark, SF)
    got = run_to_memory(session_counts(stream), "sess")
    # session_window isn't available on plain batch groupBy in the same
    # shape; assert conservation instead: every event lands in one session
    assert got.agg(F.sum("n_events")).collect()[0][0] == batch_events.count()
    # and sessions respect the gap: end-start <= n_events * gap
    bad = got.where(
        (F.col("session_end") - F.col("session_start"))
        > (F.col("n_events")) * 1800
    ).count()
    assert bad == 0


def test_salted_window_agg_matches_batch_and_plain(spark, batch_events):
    """Skew-safe two-phase (chained) streaming aggregation. Chained aggs
    require APPEND mode, which emits only watermark-closed windows — so the
    stream result must equal the UNSALTED direct batch aggregation
    restricted to windows whose end precedes the final watermark
    (max event time − delay). Decimal partials make the sums exact, so
    equality is bitwise, not approximate."""
    from spark_skew_join_spark.streaming.skew_agg import salted_window_agg

    stream = read_events_stream(spark, SF)
    q = (
        salted_window_agg(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sskew")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM sskew")
    cols = ["hour_start", "event_type", "n_events", "sum_value"]

    wm_cutoff = batch_events.agg(
        (F.unix_timestamp(F.max("ts")) - 2 * 3600).alias("wm")
    ).collect()[0].wm
    plain = (
        batch_events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(24,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start"),
            "event_type", "n_events", "sum_value",
        )
        .where(F.col("hour_start") + 3600 <= wm_cutoff)
    )
    g, x = _rows(got.select(*cols), cols), _rows(plain.select(*cols), cols)
    assert len(g) > 0 and g == x


def test_stateful_running_totals(spark, batch_events):
    from spark_skew_join_spark.streaming.windows import running_user_totals

    stream = read_events_stream(spark, SF)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM totals GROUP BY user_id"
    )
    exp = batch_events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    cols = ["user_id", "n"]
    assert _rows(got.select(*cols), cols) == _rows(exp.select(*cols), cols)


def test_foreachbatch_idempotent_sink(spark, batch_events, tmp_path):
    from spark_skew_join_spark.streaming.sinks import write_stream_idempotent

    out = str(tmp_path / "sink")
    stream = read_events_stream(spark, SF)
    q = write_stream_idempotent(stream.select("event_id", "user_id"), out, "fb_sink")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(out)
    assert written.count() == batch_events.count()
    # redelivery of the same epoch must not duplicate: materialize epoch 0,
    # rewrite it in place (can't lazily read+overwrite the same dir), recount
    rows = spark.read.parquet(out + "/epoch=0").collect()
    schema = spark.read.parquet(out + "/epoch=0").schema
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        out + "/epoch=0"
    )
    spark.catalog.refreshByPath(out)
    assert spark.read.parquet(out).count() == batch_events.count()


def test_stream_dedup_matches_batch(spark, batch_events):
    """Replay the events twice (union of two file streams) → duplicates of
    every event; dropDuplicatesWithinWatermark must restore exactly-once."""
    from spark_skew_join_spark.streaming.dedup import dedup_stream

    doubled = read_events_stream(spark, SF).unionByName(
        read_events_stream(spark, SF)
    )
    got = (
        dedup_stream(doubled)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .start()
    )
    try:
        got.processAllAvailable()
    finally:
        got.stop()
    res = spark.sql("SELECT event_id FROM sdedup")
    assert res.count() == batch_events.count()  # each event exactly once
    assert res.distinct().count() == res.count()


def test_stream_static_enrichment_matches_batch(spark, batch_events):
    from spark_skew_join_spark.streaming.dedup import enrich_stream

    dim = batch_events.select("user_id").distinct().withColumn(
        "segment", (F.col("user_id") % 5).cast("int")
    )
    stream = read_events_stream(spark, SF)
    q = (
        enrich_stream(stream, dim)
        .select("event_id", "segment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("senrich")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id, segment FROM senrich")
    exp = enrich_stream(batch_events, dim).select("event_id", "segment")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_stream_interval_join_matches_batch(spark, batch_events):
    from pyspark.sql import functions as F

    from spark_skew_join_spark.streaming.joins import clicks_to_purchases

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    # streaming: two file-stream replays of the same parquet
    s_clicks = read_events_stream(spark, SF).where(F.col("event_type") == "click")
    s_purch = read_events_stream(spark, SF).where(F.col("event_type") == "purchase")
    joined = clicks_to_purchases(s_clicks, s_purch)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT purchase_id, click_id FROM ssj")
    # batch equivalent on the same data
    b_clicks, b_purch = split(batch_events)
    exp = clicks_to_purchases(b_clicks, b_purch).select("purchase_id", "click_id")
    g = sorted(map(tuple, got.collect()))
    x = sorted(map(tuple, exp.collect()))
    assert g == x and len(g) > 0


def test_streaming_funnel_matches_batch(spark, batch_events):
    from spark_skew_join_spark.operators.funnel import funnel_stages
    from spark_skew_join_spark.streaming.funnel import streaming_funnel

    stages = ["view", "click", "purchase"]
    stream = read_events_stream(spark, SF).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    q = (
        streaming_funnel(stream, "user_id", "event_type", "us", stages)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sfunnel")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode appends one row per user per batch: keep the last
    # (max-reached, then max times) snapshot per user
    got = spark.sql(
        """SELECT user_id, max_by(reached, t_1 + t_2 + t_3) AS reached,
                  max(t_1) AS t_1, max(t_2) AS t_2, max(t_3) AS t_3
           FROM sfunnel GROUP BY user_id"""
    ).where(F.col("reached") >= 1)
    ev = batch_events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    exp = funnel_stages(ev, "user_id", "event_type", "us", stages).select(
        "user_id",
        "reached",
        F.col("t_view").alias("t_1"),
        F.coalesce("t_click", F.lit(-1)).alias("t_2"),
        F.coalesce("t_purchase", F.lit(-1)).alias("t_3"),
    )
    cols = ["user_id", "reached", "t_1", "t_2", "t_3"]
    assert _rows(got.select(*cols), cols) == _rows(exp.select(*cols), cols)


def test_streaming_cdc_upsert_last_wins(spark, batch_events, tmp_path):
    import os

    from spark_skew_join_spark.streaming.cdc import (
        read_upsert_table,
        upsert_stream,
    )

    ev = batch_events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("seq"),
        "event_type", "value",
    )
    # the last-wins oracle needs per-user seq uniqueness
    assert (
        ev.select("user_id", "seq").distinct().count() == ev.count()
    )
    src, tbl = str(tmp_path / "feed"), str(tmp_path / "tbl")
    ev.repartition(4).write.parquet(src)  # 4 unordered CDC batches
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = upsert_stream(stream, tbl, ["user_id"], "seq", "cdcup",
                      keep_versions=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_upsert_table(spark, tbl)
    exp = ev.groupBy("user_id").agg(
        F.max_by("event_id", "seq").alias("event_id"),
        F.max("seq").alias("seq"),
        F.max_by("event_type", "seq").alias("event_type"),
        F.max_by("value", "seq").alias("value"),
    )
    cols = ["user_id", "event_id", "seq", "event_type", "value"]
    assert _rows(got.select(*cols), cols) == _rows(exp.select(*cols), cols)
    # version pruning kept at most keep_versions snapshots + pointer
    versions = [d for d in os.listdir(tbl) if d.startswith("v=")]
    assert 1 <= len(versions) <= 2


def test_cdc_time_travel_reads_retained_versions(spark, batch_events, tmp_path):
    import pytest

    from spark_skew_join_spark.streaming.cdc import (
        list_versions,
        read_upsert_table,
        upsert_stream,
    )

    ev = batch_events.select(
        "user_id", F.unix_micros("ts").alias("seq"), "value"
    )
    src, tbl = str(tmp_path / "feed2"), str(tmp_path / "tbl2")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = upsert_stream(stream, tbl, ["user_id"], "seq", "cdctt",
                      keep_versions=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    vs = list_versions(tbl)
    assert 1 <= len(vs) <= 2
    # historical snapshot is readable and no larger than the latest
    old = read_upsert_table(spark, tbl, version=vs[0])
    latest = read_upsert_table(spark, tbl)
    assert old.count() <= latest.count()
    # pruned/unknown versions raise with the retained list
    with pytest.raises(ValueError, match="not retained"):
        read_upsert_table(spark, tbl, version=-5)


def test_cdc_redelivery_writes_fresh_attempt_dir(spark, tmp_path):
    """A retried epoch must never rewrite the directory _LATEST points
    to (torn-read hazard): the snapshot layer resolves attempt-suffixed
    siblings (v=<epoch>.<attempt>) as the same logical version."""
    import os

    from spark_skew_join_spark.streaming.cdc import (
        _snapshot_dirs,
        list_versions,
        read_upsert_table,
    )

    tbl = str(tmp_path / "tbl3")
    os.makedirs(tbl)
    spark.createDataFrame([(1, "stale")], "k int, v string").write.parquet(
        os.path.join(tbl, "v=5")
    )
    spark.createDataFrame([(1, "retried")], "k int, v string").write.parquet(
        os.path.join(tbl, "v=5.1")
    )
    with open(os.path.join(tbl, "_LATEST"), "w") as f:
        f.write("v=5.1")
    assert _snapshot_dirs(tbl) == [(5, 0, "v=5"), (5, 1, "v=5.1")]
    assert list_versions(tbl) == [5]
    # both the pointer read and the versioned read resolve the retry
    assert read_upsert_table(spark, tbl).first()["v"] == "retried"
    assert read_upsert_table(spark, tbl, version=5).first()["v"] == "retried"


def test_cdc_prune_counts_epochs_not_attempt_dirs(tmp_path):
    """ADVICE r5 #1 regression: a crash-looping epoch (many attempt
    dirs) must never crowd its PREDECESSOR epoch out of the retention
    window — the retry rebuilds from that predecessor, so evicting it
    silently drops all accumulated state."""
    import os

    from spark_skew_join_spark.streaming.cdc import (
        _prune_versions,
        _snapshot_dirs,
        list_versions,
    )

    tbl = str(tmp_path / "tbl4")
    # epochs 3, 4, then epoch 5 crash-loops through 4 attempts: 6 dirs
    for d in ["v=3", "v=4", "v=5", "v=5.1", "v=5.2", "v=5.3"]:
        os.makedirs(os.path.join(tbl, d))
    _prune_versions(tbl, keep_versions=3)
    # all three epochs retained — every attempt dir of epoch 5 kept,
    # epochs 3 and 4 untouched (old dir-count pruning kept only
    # [v=5.1, v=5.2, v=5.3], losing BOTH predecessors)
    assert list_versions(tbl) == [3, 4, 5]
    assert len(_snapshot_dirs(tbl)) == 6
    # a fourth epoch arrives: epoch 3 ages out, epoch 5 attempts intact
    os.makedirs(os.path.join(tbl, "v=6"))
    _prune_versions(tbl, keep_versions=3)
    assert list_versions(tbl) == [4, 5, 6]
    assert [d for _, _, d in _snapshot_dirs(tbl) if d.startswith("v=5")] == [
        "v=5", "v=5.1", "v=5.2", "v=5.3"
    ]


def test_merge_upsert_rejects_duplicate_source_keys(spark):
    import pytest

    from spark_skew_join_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, "a")], "k int, v string")
    s = spark.createDataFrame([(2, "x"), (2, "y")], "k int, v string")
    with pytest.raises(ValueError, match="duplicate source merge key"):
        merge_upsert(t, s, ["k"])
    # explicit opt-out preserves the legacy pass-through
    assert merge_upsert(t, s, ["k"], on_duplicate="keep_all").count() == 3


@pytest.mark.slow
def test_unordered_funnel_converges_to_batch_under_shuffled_delivery(
    spark, tmp_path
):
    """Bounded-lateness replay: events shuffled within and ACROSS
    micro-batch boundaries (disorder <= the declared lateness) must
    converge to the batch funnel exactly — the failure mode the 2M-event
    stress documented for the in-order operator."""
    import random

    from spark_skew_join_spark.operators.funnel import funnel_stages
    from spark_skew_join_spark.streaming.funnel import (
        streaming_funnel_unordered,
    )

    rng = random.Random(23)
    sec = 1_000_000  # ts in epoch micros, 1 event/second
    rows = []
    for u in range(40):
        n = rng.randint(3, 12)
        ts = sorted(rng.sample(range(200), n))
        for t in ts:
            rows.append((u, rng.choice(["a", "b", "c", "x"]), t * sec))
    ev = spark.createDataFrame(rows, "user_id long, event_type string, us long")
    exp = funnel_stages(ev, "user_id", "event_type", "us", ["a", "b", "c"])

    # delivery: 3 time slices; ~30% of each slice's tail events slip
    # into the NEXT batch (cross-boundary lateness <= 60 s), and every
    # batch is internally shuffled
    srows = sorted(rows, key=lambda r: r[2])
    cut1, cut2 = len(srows) // 3, 2 * len(srows) // 3
    batches = [srows[:cut1], srows[cut1:cut2], srows[cut2:]]
    for b in range(2):
        late = [r for r in batches[b][-12:] if rng.random() < 0.5
                and batches[b + 1][0][2] - r[2] < 60 * sec]
        batches[b] = [r for r in batches[b] if r not in late]
        batches[b + 1] = late + batches[b + 1]
    for b in batches:
        rng.shuffle(b)
    # sentinel far in the future pushes the watermark past every real
    # event so the reorder buffers flush via event-time timeout
    batches.append([(999, "x", 10_000 * sec)])

    src = str(tmp_path / "ufeed")
    import os
    import time

    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(
            b, "user_id long, event_type string, us long"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = (
        streaming_funnel_unordered(
            stream, "user_id", "event_type", "us", ["a", "b", "c"],
            lateness="60 seconds",
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ufun")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        """SELECT user_id, max_by(reached, t_1 + t_2 + t_3) AS reached,
                  max(t_1) AS t_1, max(t_2) AS t_2, max(t_3) AS t_3
           FROM ufun WHERE user_id < 999 GROUP BY user_id"""
    ).where("reached >= 1").selectExpr(
        "user_id", "reached", "nullif(t_1, -1) AS t_1",
        "nullif(t_2, -1) AS t_2", "nullif(t_3, -1) AS t_3"
    )
    exp_full = exp.selectExpr(
        "user_id", "reached", "t_a AS t_1", "t_b AS t_2", "t_c AS t_3"
    )
    cols = ["user_id", "reached", "t_1", "t_2", "t_3"]
    assert _rows(got.select(*cols), cols) == _rows(exp_full, cols)


def test_streaming_funnel_string_ids(spark, tmp_path):
    from spark_skew_join_spark.streaming.funnel import streaming_funnel

    rows = [("u1", "a", 10), ("u1", "b", 20), ("u2", "b", 5)]
    df = spark.createDataFrame(rows, "uid string, t string, ts long")
    src = str(tmp_path / "sfeed")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        streaming_funnel(stream, "uid", "t", "ts", ["a", "b"])
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sfstr")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.uid: r for r in spark.sql("SELECT * FROM sfstr").collect()}
    assert got["u1"].reached == 2 and got["u1"].t_2 == 20
    assert got["u2"].reached == 0


def test_streaming_kll_quantiles_track_exact_within_bound(spark, tmp_path):
    """Per-key KLL state folded over micro-batches: final streamed
    estimates must sit inside the sketch's rank-error envelope of the
    exact per-key quantiles over the whole feed — and out-of-order
    batch delivery must not matter (the sketch is order-insensitive)."""
    import os
    import random
    import time

    import numpy as np

    from spark_skew_join_spark.sketch.bounds import kll_rank_error
    from spark_skew_join_spark.streaming.quantiles import streaming_quantiles

    rng = random.Random(19)
    per_key = {"a": [], "b": []}
    rows = []
    for i in range(12_000):
        key = "a" if i % 3 else "b"
        v = rng.uniform(0, 1000) if key == "a" else rng.gauss(500, 100)
        per_key[key].append(v)
        rows.append((key, v))
    # shuffled delivery across 4 files
    rng.shuffle(rows)
    src = str(tmp_path / "qfeed")
    os.makedirs(src)
    quarter = len(rows) // 4
    for b in range(4):
        chunk = rows[b * quarter: (b + 1) * quarter] if b < 3 else rows[3 * quarter:]
        spark.createDataFrame(chunk, "k string, v double") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_quantiles(stream, "k", "v", quantiles=(0.1, 0.5, 0.9))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("skll")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {
        r["k"]: r
        for r in spark.sql(
            "SELECT k, max_by(q_10, n) AS q_10, max_by(q_50, n) AS q_50, "
            "max_by(q_90, n) AS q_90, max(n) AS n FROM skll GROUP BY k"
        ).collect()
    }
    # δ = 1e-6 per sketch: DataSketches' documented 99% single-rank
    # error 2.296/k^0.9723 (1.33% at k=200) times √(ln(1/δ)/ln 100) =
    # 1.73, the √ln(1/δ) growth of the KLL bound (Karnin–Lang–Liberty
    # 2016); six estimates from two unseeded sketches
    bound = kll_rank_error(200, delta=1e-6)
    for key, vals in per_key.items():
        assert final[key]["n"] == len(vals)
        srt = np.sort(vals)
        for col, qq in (("q_10", 0.1), ("q_50", 0.5), ("q_90", 0.9)):
            est = final[key][col]
            rank = np.searchsorted(srt, est, side="right") / len(srt)
            assert abs(rank - qq) <= bound, (key, col, est, rank)


def test_bloom_dedup_stream_at_most_once(spark, tmp_path):
    """Bloom-state streaming dedup: every key emitted AT MOST once
    across micro-batches (including replays far apart — the case
    watermarked dedup forgets), emitted rows are true first
    occurrences, and the false-drop count stays within the fp
    envelope."""
    import os
    import random
    import time

    from spark_skew_join_spark.streaming.dedup import bloom_dedup_stream

    rng = random.Random(23)
    n_unique = 6_000
    # batch 1: keys 0..3999 (some intra-batch dups); batch 2: replay of
    # 0..1999 + new 4000..4999; batch 3: replay of 0..999 + new 5000..5999
    batches = [
        [rng.randrange(0, 4000) for _ in range(6000)] + list(range(0, 4000)),
        list(range(0, 2000)) + list(range(4000, 5000)),
        list(range(0, 1000)) + list(range(5000, 6000)),
    ]
    src = str(tmp_path / "bdfeed")
    os.makedirs(src)
    for b, keys in enumerate(batches):
        spark.createDataFrame(
            [(k, b) for k in keys], "event_id long, batch int"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("event_id long, batch int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        bloom_dedup_stream(stream, key_col="event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bdedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT event_id, COUNT(*) AS c FROM bdedup GROUP BY 1")
    rows = out.collect()
    # at most once, ever
    assert max(r["c"] for r in rows) == 1
    emitted = {r["event_id"] for r in rows}
    assert emitted <= set(range(n_unique))
    # false drops bounded: default 32 shards x 128k bits, k=5 at
    # ~190 keys/shard -> fp ~ 1e-11; allow a generous absolute slack
    assert len(emitted) >= n_unique - 5, n_unique - len(emitted)


def test_streaming_distinct_hll_state(spark, tmp_path):
    """Per-key HLL state (``hll_sketch_agg`` as streaming aggregation
    state) across shuffled micro-batches: final estimate within
    ``hll_error(14)`` = 3·1.04/√2^14 (three standard errors, Flajolet et
    al. 2007) of the exact per-key distinct count."""
    import os
    import random
    import time

    from spark_skew_join_spark.sketch.bounds import hll_error
    from spark_skew_join_spark.streaming.sketches import streaming_distinct

    rng = random.Random(31)
    per_key = {"a": set(), "b": set()}
    rows = []
    for i in range(30_000):
        key = "a" if i % 3 else "b"
        v = rng.randrange(8_000) if key == "a" else rng.randrange(1_500)
        per_key[key].add(v)
        rows.append((key, v))
    rng.shuffle(rows)
    src = str(tmp_path / "hfeed")
    os.makedirs(src)
    third = len(rows) // 3
    for b in range(3):
        chunk = rows[b * third:(b + 1) * third] if b < 2 else rows[2 * third:]
        spark.createDataFrame(chunk, "k string, v long") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_distinct(stream, "k", "v")
        .writeStream.outputMode("update").format("memory")
        .queryName("sdist").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {
        r["k"]: r for r in spark.sql(
            "SELECT k, max_by(distinct_est, n_events) AS est, "
            "max(n_events) AS n FROM sdist GROUP BY k"
        ).collect()
    }
    for key, vals in per_key.items():
        exact = len(vals)
        assert final[key]["n"] == sum(1 for r_ in rows if r_[0] == key)
        assert abs(final[key]["est"] - exact) <= hll_error(14) * exact, (
            key, final[key]["est"], exact
        )


def test_streaming_sketch_aggregates_run_in_batch(spark):
    """The DataSketches-backed streaming functions are plain aggregations,
    so they run on a batch frame too: a DOUBLE value column (not an HLL
    item type) is sketched through ``key_hash`` with nulls skipped, and
    a key whose values are all null reports n = 0 with NaN quantiles."""
    import math

    from spark_skew_join_spark.sketch.bounds import hll_error
    from spark_skew_join_spark.streaming.quantiles import streaming_quantiles
    from spark_skew_join_spark.streaming.sketches import (
        streaming_distinct,
        streaming_theta,
    )

    rows = [("a", float(i % 700)) for i in range(5_000)] + [("a", None)] * 5
    rows += [("b", None)] * 3
    df = spark.createDataFrame(rows, "k string, v double")
    dist = {r["k"]: r for r in streaming_distinct(df, "k", "v").collect()}
    assert dist["a"]["n_events"] == 5_005 and dist["b"]["n_events"] == 3
    assert abs(dist["a"]["distinct_est"] - 700) <= hll_error(14) * 700
    assert dist["b"]["distinct_est"] == 0.0
    theta = {r["k"]: r for r in streaming_theta(df, "k", "v").collect()}
    assert theta["a"]["distinct_est"] == 700.0  # below k: exact
    qs = {r["k"]: r for r in streaming_quantiles(df, "k", "v").collect()}
    assert qs["a"]["n"] == 5_000 and qs["b"]["n"] == 0
    assert all(math.isnan(qs["b"][c]) for c in ("q_50", "q_90", "q_99"))


def test_streaming_heavy_hitters_mg_state(spark, tmp_path):
    """Per-key Misra-Gries state: every item with true share > 1/k is
    present in the final summary, and count_lb ≤ true ≤ count_lb+err."""
    import os
    import random
    import time

    from spark_skew_join_spark.streaming.sketches import (
        streaming_heavy_hitters,
    )

    rng = random.Random(37)
    # key "a": two planted hot items (20% / 10%) over a long uniform tail
    rows = []
    truth: dict = {}
    for i in range(20_000):
        r = rng.random()
        item = "hot1" if r < 0.2 else ("hot2" if r < 0.3 else f"t{rng.randrange(5000)}")
        truth[item] = truth.get(item, 0) + 1
        rows.append(("a", item))
    rng.shuffle(rows)
    src = str(tmp_path / "mgfeed")
    os.makedirs(src)
    half = len(rows) // 2
    for b in range(2):
        chunk = rows[b * half:] if b else rows[:half]
        spark.createDataFrame(chunk, "k string, item string") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string, item string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_heavy_hitters(stream, "k", "item", k=64)
        .writeStream.outputMode("update").format("memory")
        .queryName("smg").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows_out = spark.sql(
        "SELECT item, max_by(count_lb, n_events) AS lb, "
        "max_by(err, n_events) AS err, max(n_events) AS n "
        "FROM smg GROUP BY item"
    ).collect()
    final = {r["item"]: r for r in rows_out}
    n_total = max(r["n"] for r in rows_out)
    assert n_total == 20_000
    for hot in ("hot1", "hot2"):
        assert hot in final, hot
        r = final[hot]
        assert r["lb"] <= truth[hot] <= r["lb"] + r["err"], (
            hot, r["lb"], r["err"], truth[hot]
        )


def test_streaming_theta_state_equals_batch_sketch(spark, tmp_path):
    """Per-key theta state (``theta_sketch_agg`` as streaming
    aggregation state) across shuffled micro-batches: the final emitted
    sketch must equal a batch ``theta_sketch_agg`` over the same rows —
    byte for byte, since a theta union keeps the k smallest hashes of
    its inputs whatever their order — and cross-key set operations on
    the emitted bytes must hold the theta bounds: |A ∩ B| within
    3·|A ∪ B|/√k, since DataSketches states set-operation error against
    the union (RSE ≤ 1/√k, k = 2^lgNomEntries)."""
    import os
    import random
    import time

    from spark_skew_join_spark.sketch.bounds import theta_error
    from spark_skew_join_spark.streaming.sketches import streaming_theta

    rng = random.Random(47)
    rows = []
    for i in range(24_000):
        key = "a" if i % 3 else "b"
        lo, hi = (0, 6_000) if key == "a" else (3_000, 8_000)
        rows.append((key, rng.randrange(lo, hi)))
    rng.shuffle(rows)
    src = str(tmp_path / "tfeed")
    os.makedirs(src)
    third = len(rows) // 3
    for b in range(3):
        chunk = rows[b * third:(b + 1) * third] if b < 2 else rows[2 * third:]
        spark.createDataFrame(chunk, "k string, v long") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_theta(stream, "k", "v", lg_nom_entries=9)
        .writeStream.outputMode("update").format("memory")
        .queryName("stheta").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.sql(
        "SELECT k, max_by(sketch, n_events) AS sketch, "
        "max_by(distinct_est, n_events) AS est, max(n_events) AS n "
        "FROM stheta GROUP BY k"
    )
    batch = spark.createDataFrame(rows, "k string, v long").groupBy("k").agg(
        F.theta_sketch_agg("v", 9).alias("sketch"), F.count("v").alias("n")
    )
    got = {r["k"]: r for r in final.collect()}
    want = {r["k"]: r for r in batch.collect()}
    for key in ("a", "b"):
        assert bytes(got[key]["sketch"]) == bytes(want[key]["sketch"]), key
        assert got[key]["n"] == want[key]["n"]
    # cross-key set algebra from the emitted bytes
    fa = final.where("k = 'a'").select(F.col("sketch").alias("sa"))
    fb = final.where("k = 'b'").select(F.col("sketch").alias("sb"))
    est = fa.crossJoin(fb).select(
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb"))
    ).first()[0]
    set_a = {v for k_, v in rows if k_ == "a"}
    set_b = {v for k_, v in rows if k_ == "b"}
    true_inter, true_union = len(set_a & set_b), len(set_a | set_b)
    assert abs(est - true_inter) <= theta_error(9) * true_union, (est, true_inter)
    assert abs(got["a"]["est"] - len(set_a)) <= theta_error(9) * len(set_a)


def test_streaming_hot_keys_cms_state(spark, tmp_path):
    """Streaming hot-key detector: (1) every key whose TRUE accumulated
    frequency crosses the threshold is in the final hot set (CMS never
    underestimates, and the estimate at a key's last appearance covers
    all its occurrences); (2) merging the shards' final sketch blobs is
    BIT-IDENTICAL to the one-shot batch cms_from_dataframe over the
    same rows — stream state composes with offline skew planning."""
    import os
    import pickle
    import random
    import time

    import numpy as np

    from spark_skew_join_spark.sketch.cms import cms_from_dataframe
    from spark_skew_join_spark.streaming.sketches import streaming_hot_keys

    rng = random.Random(17)
    rows = (
        [("hot_a",)] * 900 + [("hot_b",)] * 400
        + [(f"cold_{rng.randrange(500)}",) for _ in range(6_000)]
    )
    rng.shuffle(rows)
    true_freq: dict[str, int] = {}
    for (k,) in rows:
        true_freq[k] = true_freq.get(k, 0) + 1
    threshold = 300
    true_hot = {k for k, c in true_freq.items() if c >= threshold}
    assert true_hot == {"hot_a", "hot_b"}

    src = str(tmp_path / "hotfeed")
    os.makedirs(src)
    third = len(rows) // 3
    for b in range(3):
        chunk = rows[b * third:(b + 1) * third] if b < 2 else rows[2 * third:]
        spark.createDataFrame(chunk, "k string") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_hot_keys(stream, ["k"], hot_threshold=threshold, n_shards=4)
        .writeStream.outputMode("update").format("memory")
        .queryName("shot").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # final hot set per shard = the rows of the last emission (max n_events)
    hot_rows = spark.sql(
        "SELECT key, est_freq FROM ("
        "  SELECT key, est_freq, n_events,"
        "         max(n_events) OVER (PARTITION BY shard) AS n_max"
        "  FROM shot WHERE key IS NOT NULL)"
        " WHERE n_events = n_max"
    ).collect()
    hot = {r["key"]: r["est_freq"] for r in hot_rows}
    assert true_hot <= set(hot), (true_hot, set(hot))
    n = len(rows)
    for k, est in hot.items():
        assert est >= threshold
        assert true_freq.get(k, 0) >= threshold - 0.005 * n  # eps*N slack

    # merged shard sketches == one-shot batch build, bit for bit
    blobs = spark.sql(
        "SELECT sketch FROM ("
        "  SELECT shard, sketch, n_events,"
        "         max(n_events) OVER (PARTITION BY shard) AS n_max"
        "  FROM shot WHERE key IS NULL)"
        " WHERE n_events = n_max"
    ).collect()
    merged = None
    for r in blobs:
        s = pickle.loads(bytes(r["sketch"]))
        merged = s if merged is None else merged.merge(s)
    batch = cms_from_dataframe(
        spark.createDataFrame(rows, "k string"), ["k"]
    )
    assert merged.total == batch.total == len(rows)
    assert np.array_equal(merged.table, batch.table)
    # and the merged sketch answers like the batch one
    assert merged.estimate("hot_a") == batch.estimate("hot_a") >= 900


def test_streaming_cusum_matches_batch_fold(spark, tmp_path):
    """Stream-final CUSUM state ≡ the sequential fold over the same
    delivery order, across micro-batch boundaries; the planted shift
    alarms mid-stream."""
    import os
    import time

    from spark_skew_join_spark.streaming.monitor import streaming_cusum

    vals = [10.0] * 60 + [14.0] * 60  # shift of +4 against target 10
    rows = [("svc", float(v)) for v in vals]
    src = str(tmp_path / "cfeed")
    os.makedirs(src)
    third = len(rows) // 3
    for b in range(3):
        chunk = rows[b * third:(b + 1) * third] if b < 2 else rows[2 * third:]
        spark.createDataFrame(chunk, "k string, v double") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_cusum(stream, "k", "v", target=10.0, slack=1.0,
                        threshold=50.0)
        .writeStream.outputMode("update").format("memory")
        .queryName("scusum").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.sql(
        "SELECT * FROM scusum ORDER BY n_events DESC LIMIT 1"
    ).collect()[0]
    # reference fold over the same order
    s = smax = 0.0
    imax = 0
    for i, y in enumerate(vals, 1):
        s = max(0.0, s + (y - 10.0 - 1.0))
        if s > smax:
            smax, imax = s, i
    assert final["n_events"] == len(vals)
    assert abs(final["cusum"] - s) < 1e-9
    assert abs(final["cusum_max"] - smax) < 1e-9
    assert final["argmax_idx"] == imax == 120
    assert bool(final["alarm"]) is True
    # files were appended in order; within-file order preserved by the
    # single-partition write, so intermediate emissions are prefix folds
    mids = spark.sql("SELECT n_events, alarm FROM scusum ORDER BY n_events").collect()
    assert [m["n_events"] for m in mids] == [40, 80, 120]
    assert [bool(m["alarm"]) for m in mids] == [False, True, True]
