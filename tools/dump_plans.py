"""Regenerate PLANS.md: physical-plan evidence for the flagship operators.

Usage: python tools/dump_plans.py   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf, skew_join
from spark_skew_join_spark import queries as q
from spark_skew_join_spark.plans.explain import plan_string
from spark_skew_join_spark.sources.tables import get_spark, load_tables

SF = "/root/testdata/sf0.01"


def section(title: str, body: str, note: str) -> str:
    return f"## {title}\n\n{note}\n\n```\n{body.strip()}\n```\n"


def main() -> None:
    spark = get_spark("plans", cpus=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    t = load_tables(spark, SF)
    out = [
        "# PLANS — physical-plan evidence (regenerate: `python tools/dump_plans.py`)\n",
        "What to look for: `PushedFilters`/`ReadSchema` (scan-level pruning),\n"
        "`BroadcastHashJoin` (hot-key map attach / small dims), `Exchange` count\n"
        "(shuffles), absence of `BatchEvalPython` (no Python in hot paths).\n",
    ]

    conf = SkewJoinConf(replication_factor=0.01, hot_threshold=200)
    sj = skew_join(t["lineitem"], t["supplier"], [("l_suppkey", "s_suppkey")], "inner", conf)
    out.append(
        section(
            "skew_join (hot/cold split, exact hot-key map)",
            plan_string(sj, "simple"),
            "Broadcast semi/anti joins against the hot-key table split each side;\n"
            "the cold rows take the plain join and the two halves are unioned.\n"
            "With broadcasting disabled (as here) the hot pairs are salted: two\n"
            "`Generate explode` nodes replicate across salt buckets and hot keys\n"
            "hash across R_L x R_R partitions. No Python anywhere.",
        )
    )

    q1 = q.QUERIES["q1_pricing_summary"](spark, SF)
    plan = plan_string(q1, "formatted")
    scan = "\n".join(
        line for line in plan.splitlines()
        if re.search(r"PushedFilters|ReadSchema|Scan parquet", line)
    )
    out.append(
        section(
            "q1_pricing_summary — scan pruning",
            scan,
            "The shipdate filter reaches the parquet scan; ReadSchema carries\n"
            "only the 7 referenced columns of 11.",
        )
    )

    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    q5 = q.QUERIES["q5_local_supplier_volume"](spark, SF)
    simple5 = plan_string(q5, "simple")
    out.append(
        section(
            "q5_local_supplier_volume — star join",
            "\n".join(l for l in simple5.splitlines() if "Join" in l or "Exchange" in l),
            "All five dimension joins are BroadcastHashJoin (no shuffle per\n"
            "join); the single Exchange is the final groupBy.",
        )
    )

    knn = q.QUERIES["knn_bruteforce"](spark, SF)
    simplek = plan_string(knn, "simple")
    out.append(
        section(
            "knn_bruteforce — vector math in codegen",
            "\n".join(simplek.splitlines()[:12]),
            "Dot products run as `aggregate(zip_with(...))` inside\n"
            "WholeStageCodegen; the query-set is broadcast; the only shuffle is\n"
            "the per-query top-k window.",
        )
    )

    pf = q.QUERIES["prefilter_join_orders"](spark, SF)
    simplep = plan_string(pf, "simple")
    out.append(
        section(
            "prefilter_join_orders — bloom-style runtime filter",
            "\n".join(
                l for l in simplep.splitlines() if "Join" in l or "Exchange" in l
            ),
            "Two BroadcastHashJoin LeftSemi passes (one per hash seed) prune\n"
            "the orders side map-side BEFORE any exchange — the fact shuffle\n"
            "only carries surviving rows; the final equi-join is exact.",
        )
    )

    hh = q.QUERIES["heavy_hitter_suppliers"](spark, SF)
    simpleh = plan_string(hh, "simple")
    out.append(
        section(
            "heavy_hitter_suppliers — MG summaries + exact verify",
            "\n".join(
                l
                for l in simpleh.splitlines()
                if "MapInPandas" in l or "Join" in l or "Exchange" in l
            ),
            "One MapInPandas per partition emits <= k counter rows (bounded\n"
            "shuffle regardless of key cardinality); candidates broadcast into\n"
            "a LeftSemi; the 1-row N/threshold aggregates attach as\n"
            "BroadcastNestedLoopJoins by construction.",
        )
    )

    cont = q.QUERIES["contamination_check_docs"](spark, SF)
    simplec = plan_string(cont, "simple")
    out.append(
        section(
            "contamination_check_docs — broadcast benchmark n-grams",
            "\n".join(
                l for l in simplec.splitlines() if "Join" in l or "Exchange" in l
            ),
            "The benchmark gram set (hashed to int64, size-guarded) broadcasts\n"
            "into a LeftOuter hit-marker probe of the corpus grams; ONE per-doc\n"
            "aggregate computes totals and hits together — the corpus text is\n"
            "never shuffled and the gram set is scanned once.",
        )
    )

    mg = q.QUERIES["merge_upsert_orders"](spark, SF)
    simplem = plan_string(mg, "simple")
    out.append(
        section(
            "merge_upsert_orders — MERGE as anti-join + union",
            "\n".join(
                l for l in simplem.splitlines() if "Join" in l or "Exchange" in l
            ),
            "The changeset key set broadcasts into a LeftAnti against the\n"
            "target (the target never shuffles — the copy-on-write MERGE\n"
            "shape); the union is exchange-free.",
        )
    )

    tj = q.QUERIES["temporal_join_events"](spark, SF)
    simplet = plan_string(tj, "simple")
    out.append(
        section(
            "temporal_join_events — point-in-time SCD2 lookup",
            "\n".join(
                l for l in simplet.splitlines() if "Join" in l or "Exchange" in l
            ),
            "Equality on user_id + half-open range predicate plans as a\n"
            "user-keyed SortMergeJoin with the range as a post-join filter\n"
            "condition — never a cartesian.",
        )
    )

    pp = q.QUERIES["pipeline_pretrain_prep"](spark, SF)
    simplepp = plan_string(pp, "simple")
    out.append(
        section(
            "pipeline_pretrain_prep — four operators, one job graph",
            "\n".join(
                l for l in simplepp.splitlines() if "Join" in l or "Exchange" in l
            ),
            "Exact dedup semi-join, decontamination gram semi-join,\n"
            "boilerplate-stats join and the quota window compose lazily —\n"
            "Catalyst plans the whole pipeline at once (broadcast semi-joins\n"
            "where sides are small, hash exchanges elsewhere).",
        )
    )

    cd = q.QUERIES["chunk_dedup_docs"](spark, SF)
    simplecd = plan_string(cd, "simple")
    out.append(
        section(
            "chunk_dedup_docs — boilerplate chunks keyed by int64 hash",
            "\n".join(
                l for l in simplecd.splitlines() if "Join" in l or "Exchange" in l
            ),
            "Chunk frequency aggregates and the flag join shuffle xxhash64\n"
            "int64 keys, not chunk strings; the per-doc reassembly aggregate\n"
            "is keyed by the unique doc_id. No Python anywhere.",
        )
    )

    ss = q.QUERIES["dedup_exact_substr"](spark, SF)
    simpless = plan_string(ss, "simple")
    out.append(
        section(
            "dedup_exact_substr — seed-grid windows + islands merge",
            "\n".join(
                l for l in simpless.splitlines()
                if "Join" in l or "Exchange" in l or "Window" in l
            ),
            "Grid anchors equi-join all windows on int64 xxhash64 keys (20\n"
            "bytes/token shuffled, never text); the run merge is one lag/sum\n"
            "window over (pair, diagonal); the char-offset joins touch only\n"
            "surviving runs. No Python, no cartesian.",
        )
    )

    sd = q.QUERIES["semdedup_embeddings"](spark, SF)
    simplesd = plan_string(sd, "simple")
    out.append(
        section(
            "semdedup_embeddings — per-cluster pairs, never all-pairs",
            "\n".join(
                # the unrolled 64-dim cosine makes the join condition
                # ~40 KB of text — keep the node shape, cut the formula
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplesd.splitlines() if "Join" in l or "Exchange" in l
            ),
            "Centroid assignment is one codegen pass (scalar-literal dots);\n"
            "the duplicate-pair join is keyed by cluster_id, so the quadratic\n"
            "term is bounded by the largest cluster, and only (id, cluster)\n"
            "rows + pruned-stat rows shuffle.",
        )
    )

    tm = q.QUERIES["pipeline_train_mix"](spark, SF)
    simpletm = plan_string(tm, "simple")
    out.append(
        section(
            "pipeline_train_mix — four round-5 operators, one job graph",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simpletm.splitlines()
                if "Join" in l or "Exchange" in l or "Window" in l
            ),
            "Substring-span removal, DSIR scoring over the cleaned text,\n"
            "temperature mixing, and per-source packing compose lazily —\n"
            "Catalyst plans the whole chain at once: the span/window joins,\n"
            "the broadcast distribution joins, the mixture rank window, and\n"
            "the pack-group aggregate share one optimized graph.",
        )
    )

    ss2 = q.QUERIES["setsim_join_docs"](spark, SF)
    simpless2 = plan_string(ss2, "simple")
    out.append(
        section(
            "setsim_join_docs — PPJoin candidates on int64 token hashes "
            "(round 12)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simpless2.splitlines()
                if "Join" in l or "Exchange" in l or "InMemory" in l
            ),
            "Tokens are xxhash64-hashed before ANY shuffle; the hashed\n"
            "(doc, token) set AND the thrice-read per-doc ordered array are\n"
            "session caches (InMemoryTableScan — round 12 added the token\n"
            "cache so the df aggregation and array build no longer each\n"
            "re-run tokenize+hash+distinct); the candidate join is an\n"
            "equi-join on 8-byte prefix hashes with the asymmetric\n"
            "2t/(1+t) index prefix and the positional filter ahead of the\n"
            "distinct (5.49M -> 3.54M candidates at sf0.1).",
        )
    )
    q.clear_dedup_cache()

    ivfpq = q.QUERIES["ann_ivfpq_topk"](spark, SF)
    simpleivf = plan_string(ivfpq, "simple")
    out.append(
        section(
            "ann_ivfpq_topk — IVF-PQ with pure-codegen ADC (round 8)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simpleivf.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "MapInPandas" in l
            ),
            "ONE Python node total (the corpus encoder); ADC scoring is a\n"
            "BroadcastHashJoin on the probed centroid id against flattened\n"
            "(query, LUT) rows + an aggregate/element_at codegen fold — zero\n"
            "Python per candidate, unlike classic PQ scorers.",
        )
    )

    tb = q.QUERIES["token_budget_docs"](spark, SF)
    simpletb = plan_string(tb, "simple")
    out.append(
        section(
            "token_budget_docs — budget cut without a global sort (round 8)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simpletb.splitlines()
                if "Join" in l or "Exchange" in l or "Window" in l
            ),
            "The ONLY window is partitioned by the range bucket (no\n"
            "global-order single-partition sort anywhere); post-boundary\n"
            "buckets never pass the broadcast offsets join, so they are\n"
            "filtered before any work.",
        )
    )

    tc = q.QUERIES["tfidf_cosine_docs"](spark, SF)
    simpletc = plan_string(tc, "simple")
    out.append(
        section(
            "tfidf_cosine_docs — inverted-index cosine on hashed phrases (round 9)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simpletc.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "InMemory" in l
            ),
            "Every shuffle keys on the xxhash64 phrase hash or a doc id —\n"
            "the phrase STRING never moves; the pair enumeration is an\n"
            "equi-join on the term hash (fan-out capped by max_df), never a\n"
            "cartesian; the only BroadcastNestedLoopJoin is the 1-row n_docs\n"
            "scalar (SCALAR_BNL_OK). The weight table's session cache shows\n"
            "as the repeated InMemoryTableScan feeding the norms subtree and\n"
            "both sides of the pair join (VERDICT r9 #8 — the filter\n"
            "previously dropped InMemory* nodes, which read as NO cache).",
        )
    )

    nd = q.QUERIES["ndcg_retrieval_eval"](spark, SF)
    simplend = plan_string(nd, "simple")
    out.append(
        section(
            "ndcg_retrieval_eval — in-engine ranking evaluation (round 9)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplend.splitlines()
                if "Join" in l or "Exchange" in l or "Window" in l
                or "Python" in l
            ),
            "The run side is <= k rows/query (TakeOrdered shortlist from\n"
            "bm25_topk_multi); the only window partitions by query_id over\n"
            "the judgments (label-table-bounded, never the corpus); no\n"
            "Python nodes.",
        )
    )

    lshr = q.QUERIES["ann_lsh_refined_topk"](spark, SF)
    simplelshr = plan_string(lshr, "simple")
    out.append(
        section(
            "ann_lsh_refined_topk — multiprobe LSH at full code coverage (round 10)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplelshr.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "Generate" in l or "InMemory" in l
            ),
            "The multiprobe expansion is the query-side Generate (explode of\n"
            "the Hamming-sorted code slice) — pure codegen, fanning out only\n"
            "|queries| x n_bands x probe_codes rows; the bucket probe stays\n"
            "an equi-join on (band, code); the corpus-side band layout (the\n"
            "persisted half at 100 TB) is untouched. The only Python nodes\n"
            "are the two Arrow band-code projections.",
        )
    )

    cdc = q.QUERIES["cdc_chunk_docs"](spark, SF)
    simplecdc = plan_string(cdc, "simple")
    out.append(
        section(
            "cdc_chunk_docs — content-defined chunk boundaries (round 10)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplecdc.splitlines()
                if "Join" in l or "Exchange" in l or "Window" in l
                or "Python" in l
            ),
            "One window (partitioned by doc_id — bounded by doc length,\n"
            "never a global sort) computes the running boundary count; the\n"
            "per-position md5 is map-side; the only join re-attaches the\n"
            "token array for chunk text, an equi-join on doc_id. No Python\n"
            "nodes.",
        )
    )

    cov = q.QUERIES["embedding_covariance_stats"](spark, SF)
    simplecov = plan_string(cov, "simple")
    out.append(
        section(
            "embedding_covariance_stats — integer micro-unit moment fold (round 10)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplecov.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "HashAggregate" in l
            ),
            "One hash aggregation over the (i, j) pair fan-out: the partial\n"
            "aggregate map-side-combines to <= d^2 rows per task, so the\n"
            "exchange is constant-size regardless of corpus rows; sums are\n"
            "exact long micro-units (order-independent), no joins, no\n"
            "Python.",
        )
    )

    ngd = q.QUERIES["ngram_diversity_sources"](spark, SF)
    simplengd = plan_string(ngd, "simple")
    out.append(
        section(
            "ngram_diversity_sources — corpus diversity fold (round 10)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplengd.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "HashAggregate" in l
            ),
            "Two hash aggregations, both map-side combined: (source,\n"
            "xxhash64(gram)) counts then the per-source fold — the gram\n"
            "STRING never reaches an exchange; no joins, no Python.",
        )
    )

    from spark_skew_join_spark.operators.classifier import (
        hashed_features,
        _margin,
    )

    feats = hashed_features(t["documents"]).withColumn(
        "y", (F.col("n_tok") > 40).cast("double")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin([0.1] * 65)))
    grad = (
        feats.select((p - F.col("y")).alias("__r"), "fmap")
        .select("__r", F.explode("fmap").alias("bucket", "x"))
        .groupBy("bucket")
        .agg(F.sum(F.col("__r") * F.col("x")).alias("g"))
    )
    simplegrad = plan_string(grad, "simple")
    out.append(
        section(
            "quality_classifier gradient iteration (round 11)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplegrad.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "HashAggregate" in l or "Generate" in l
            ),
            "One GD iteration: the sigmoid margin is a per-row fold over\n"
            "the doc's feature map against LITERAL broadcast weights (no\n"
            "join, no shuffle), then explode + groupBy(bucket) where bucket\n"
            "has 65 values — the partial aggregate reduces every task to\n"
            "<= 65 rows before the single exchange. No Python nodes; the\n"
            "only driver traffic is the 65-float gradient per iteration.",
        )
    )

    from spark_skew_join_spark.operators.unigram import apply_unigram, train_unigram

    vocab = train_unigram(t["documents"], mode="driver")
    tok = apply_unigram(t["documents"], vocab)
    simpletok = plan_string(tok, "simple")
    out.append(
        section(
            "unigram_tokenize apply path (round 11)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simpletok.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "Pandas" in l or "Scan" in l
            ),
            "Tokenizer application is ONE Arrow mapInPandas pass (the\n"
            "deliberate Python node — per-word Viterbi DP with a word memo\n"
            "is not expressible in codegen) over the fanned-out scan; the\n"
            "scan reads only (doc_id, text). No joins, no shuffles — the\n"
            "vocabulary rides in the task closure (<= 100 entries).",
        )
    )

    from spark_skew_join_spark.operators.quality import kneser_ney_logprob

    kn = kneser_ney_logprob(t["documents"])
    simplekn = plan_string(kn, "simple")
    out.append(
        section(
            "kneser_ney_logprob count joins (round 11)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplekn.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "HashAggregate" in l
            ),
            "The KN smoothing rides bigram_logprob's tf-table shape: the\n"
            "count joins run on per-doc-DISTINCT bigram rows keyed by\n"
            "xxhash64 int64s (text never crosses an exchange); the two N1+\n"
            "tables fold from the bigram-TYPE table with map-side combine;\n"
            "the scalar N1+ total is the single BroadcastNestedLoop 1-row\n"
            "attach (SCALAR_BNL_OK). No Python nodes.",
        )
    )

    from spark_skew_join_spark.operators.wordpiece import (
        _initial_symbols,
        _merge_expr,
        _pair_and_symbol_counts,
        word_frequencies,
    )

    syms = _initial_symbols(word_frequencies(t["documents"]))
    pc, sc = _pair_and_symbol_counts(syms)
    sl = sc.select(F.col("sym").alias("left"), F.col("c").alias("cl"))
    sr = sc.select(F.col("sym").alias("right"), F.col("c").alias("cr"))
    argmax = (
        pc.join(sl, "left").join(sr, "right")
        .orderBy(
            F.desc(F.col("cnt").cast("double") / (F.col("cl") * F.col("cr"))),
            F.asc("left"), F.asc("right"),
        )
        .limit(1)
    )
    rewrite = syms.withColumn("syms", _merge_expr("t", "##h", "th"))
    simplewp = plan_string(argmax, "simple")
    simplewr = plan_string(rewrite, "simple")
    out.append(
        section(
            "wordpiece distributed training round (round 11)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in (simplewp + "\n--- rewrite ---\n" + simplewr).splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "HashAggregate" in l or "TakeOrdered" in l
                or "rewrite" in l or "Generate" in l
            ),
            "One likelihood-argmax round: pair + symbol counts are two\n"
            "map-side-combined aggregations over the bounded word table,\n"
            "the scoring joins attach counts (word-table-sized, broadcast\n"
            "by AQE at fixture scale), and the argmax is a\n"
            "TakeOrderedAndProject (1 row to the driver per round). The\n"
            "symbol-array rewrite is the aggregate() HOF — pure codegen,\n"
            "no Python nodes anywhere in training.",
        )
    )

    br = q.QUERIES["bleu_rouge_eval_docs"](spark, SF)
    simplebr = plan_string(br, "simple")
    out.append(
        section(
            "bleu_rouge_eval_docs — one clip join after the unigram identity (round 11)",
            "\n".join(
                l
                for l in simplebr.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
            ),
            "Exactly ONE (doc, gram-hash)-keyed clip join survives — the\n"
            "bigram one; the unigram clipped count is the analytic candidate\n"
            "total (sub-multiset identity, hash-verified by the oracle's\n"
            "explicit join). Gram keys are int64 xxhash64; the per-source\n"
            "joins are 20-row broadcasts. No Python anywhere.",
        )
    )

    dr = q.QUERIES["domain_reweight_docs"](spark, SF)
    simpledr = plan_string(dr, "simple")
    out.append(
        section(
            "domain_reweight_docs — per-domain-distinct count joins, "
            "Window-free recurrence (round 12)",
            "\n".join(
                l
                for l in simpledr.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
                or "Window" in l or "Generate" in l
            ),
            "The bigram/unigram count joins ride per-domain-distinct tf rows\n"
            "(int64 keys); the only BroadcastNestedLoopJoin is the 1-row\n"
            "vocabulary-size attach (SCALAR_BNL_OK). Since round 12 the\n"
            "softmax runs on the ~D domain rows PACKED INTO ONE ROW\n"
            "(map-side-combined collect_list + exact-decimal HOFs +\n"
            "posexplode, the Generate node) — zero WindowExec in the plan\n"
            "(VERDICT r11 #4). No Python anywhere.",
        )
    )

    kc = q.QUERIES["kcore_copurchase"](spark, SF)
    simplekc = plan_string(kc, "simple")
    out.append(
        section(
            "kcore_copurchase — delta peeling on the degree table (round 12)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplekc.splitlines()
                if "Join" in l or "Exchange" in l or "Scan ExistingRDD" in l
            ),
            "The FINAL round's plan (earlier rounds materialized at\n"
            "construction, EAGER_QUERIES): the edge set is one static\n"
            "localCheckpoint scan; per-round state is the |V|-row degree\n"
            "table — the newly-dead set rides two small left joins against\n"
            "the edges, and the decrement aggregation shuffles only edges\n"
            "incident to dead vertices. The old shape re-filtered and\n"
            "re-checkpointed all edges every round (2.5 GB input at sf0.1,\n"
            "SHUFFLE_AUDIT r11).",
        )
    )

    lid = q.QUERIES["langid_softmax_docs"](spark, SF)
    simplelid = plan_string(lid, "simple")
    out.append(
        section(
            "langid_softmax_docs — softmax scoring, broadcast weight matrix "
            "(round 12)",
            "\n".join(
                (l[:140] + " …" if len(l) > 140 else l)
                for l in simplelid.splitlines()
                if "Join" in l or "Exchange" in l or "Python" in l
            ),
            "The SCORING plan (training ran at construction — 6 GD\n"
            "iterations, each one job whose codegen is reused because the\n"
            "weight matrix arrives as a 1-row broadcast, not as literals):\n"
            "char-bigram features build by explode-positions + md5 bucket,\n"
            "the weight attach is the allowlisted 1-row\n"
            "BroadcastNestedLoopJoin, and the margin/softmax/argmax chain\n"
            "is higher-order-function expressions (interpreted JVM-side —\n"
            "Spark HOFs are CodegenFallback by design). No Python\n"
            "anywhere.",
        )
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
