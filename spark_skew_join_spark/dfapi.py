"""DataFrame-method ergonomics — the Python stand-in for the reference's
Scala implicits (``import dfimplicits._`` wraps DataFrames so ``left
.skewJoin(right, "k")`` works, ``dfimplicits.scala:23-28``; diagnostics
methods come from ``Utils.scala:16-54``).

Python has no implicit classes; ``register_dataframe_api()`` attaches the
same surface as methods on ``pyspark.sql.DataFrame`` (idempotent, opt-in):

    from spark_skew_join_spark.dfapi import register_dataframe_api
    register_dataframe_api()
    out = left.skew_join(right, "k")            # O1/O2
    left.show_partition_stats(extended=True)     # O7
    left.timed_save("materialize")              # O8
    left.ensure_dataframe_equals(expected)      # O9
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .conf import SkewJoinConf
from .operators.diagnostics import (
    count_per_partition,
    partition_stats,
    show_count_per_partition,
    show_partition_stats,
    timed_save,
)
from .operators.skew_join import skew_join
from .sketch.cms import cms_from_dataframe
from .testing import assert_df_equal

_METHODS = {}


def _skew_join(self: DataFrame, right: DataFrame, on, how: str = "inner",
               conf: SkewJoinConf | None = None) -> DataFrame:
    return skew_join(self, right, on, how, conf)


def _get_cms(self: DataFrame, key_cols, eps: float = 0.005,
             delta: float = 1e-8, seed: int = 1):
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return cms_from_dataframe(self, key_cols, eps, delta, seed)


def _merge_upsert(self: DataFrame, source: DataFrame, key_cols) -> DataFrame:
    from .operators.merge import merge_upsert

    return merge_upsert(self, source, key_cols)


def _snapshot_diff(self: DataFrame, new: DataFrame, key_cols,
                   compare_cols) -> DataFrame:
    from .operators.merge import snapshot_diff

    return snapshot_diff(self, new, key_cols, compare_cols)


def _bottom_k(self: DataFrame, id_col: str, k: int) -> DataFrame:
    from .operators.bottomk import bottom_k_sample

    return bottom_k_sample(self, id_col, k)


def _chunk_dedup_stats(self: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", chunk_tokens: int = 10,
                       max_docs: int = 1) -> DataFrame:
    from .operators.boilerplate import chunk_dedup_stats

    return chunk_dedup_stats(self, id_col, text_col, chunk_tokens, max_docs)


def _exact_substring_runs(self: DataFrame, k: int = 16,
                          min_tokens: int = 32, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_window_df: int | None = None) -> DataFrame:
    from .operators.substr_dedup import exact_substring_runs

    return exact_substring_runs(self, k, min_tokens, id_col, text_col,
                                max_window_df)


def _remove_duplicate_spans(self: DataFrame, runs: DataFrame | None = None,
                            k: int = 16, min_tokens: int = 32,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    from .operators.substr_dedup import remove_duplicate_spans

    return remove_duplicate_spans(self, runs, k, min_tokens, id_col, text_col)


def _semdedup(self: DataFrame, threshold: float = 0.4, n_clusters: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding",
              centroid_source: str = "seed_rows",
              dim: int | None = None,
              cluster_cap: int | None = None) -> DataFrame:
    from .operators.semdedup import semdedup

    return semdedup(self, threshold, n_clusters, id_col, vec_col,
                    centroid_source, dim, cluster_cap)


def _temperature_mix(self: DataFrame, alpha: float, total: int,
                     source_col: str = "source",
                     id_col: str = "doc_id") -> DataFrame:
    from .operators.packing import temperature_mix

    return temperature_mix(self, alpha, total, source_col, id_col)


def _sequence_packing(self: DataFrame, capacity: int,
                      group_col: str | None = None,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    from .operators.packing import sequence_packing

    return sequence_packing(self, capacity, group_col, id_col, text_col)


def _incremental_exact_dedup(self: DataFrame, store: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    from .operators.incremental import incremental_exact_dedup

    return incremental_exact_dedup(self, store, text_col, id_col)


def _get_bloom(self: DataFrame, key_cols, m_bits: int = 1 << 20, k: int = 7):
    from .sketch.bloom import bloom_from_dataframe

    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return bloom_from_dataframe(self, key_cols, m_bits, k)


def _bm25_topk(self: DataFrame, query_terms, k: int = 20, k1: float = 1.2,
               b: float = 0.75, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    from .operators.retrieval import bm25_topk

    return bm25_topk(self, list(query_terms), k, k1, b, id_col, text_col)


def _link_records(self: DataFrame, right: DataFrame, **kwargs) -> DataFrame:
    from .operators.linkage import link_records

    return link_records(self, right, **kwargs)


def _zorder_key(self: DataFrame, cols, bits: int = 16, out_col: str = "zval",
                quantizer: str = "approx", map_bits: int = 12) -> DataFrame:
    from .operators.layout import zorder_key

    return zorder_key(self, list(cols), bits, out_col, quantizer, map_bits)


def _hilbert_key(self: DataFrame, cols, bits: int = 16,
                 out_col: str = "hval", quantizer: str = "approx",
                 map_bits: int = 12) -> DataFrame:
    from .operators.layout import hilbert_key

    return hilbert_key(self, list(cols), bits, out_col, quantizer, map_bits)


def _join_size_estimate(self: DataFrame, right: DataFrame, left_on: str,
                        right_on: str, **kwargs) -> DataFrame:
    from .operators.joinest import join_size_estimate

    return join_size_estimate(self, right, left_on, right_on, **kwargs)


def _dhash_images(self: DataFrame, id_col: str = "doc_id",
                  content_col: str = "content",
                  decoder: str = "bmp") -> DataFrame:
    from .operators.multimodal import dhash_images

    return dhash_images(self, id_col, content_col, decoder)


def _phash_near_dup(self: DataFrame, **kwargs) -> DataFrame:
    from .operators.multimodal import phash_near_dup

    return phash_near_dup(self, **kwargs)


def _profile(self: DataFrame, cols=None) -> DataFrame:
    from .operators.profile import profile_table

    return profile_table(self, cols)


def _holt_winters(self: DataFrame, key_col: str, ts_col: str,
                  value_col: str, **kwargs) -> DataFrame:
    from .operators.timeseries import holt_winters

    return holt_winters(self, key_col, ts_col, value_col, **kwargs)


def _triangle_count(self: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    from .operators.pagerank import triangle_count

    return triangle_count(self, src_col, dst_col)


def _canonicalize_urls(self: DataFrame, url_col: str,
                       out_col: str = "canonical_url") -> DataFrame:
    from .functions.text import canonicalize_url

    return self.withColumn(out_col, canonicalize_url(url_col))


def _psi_drift(self: DataFrame, candidate: DataFrame, key_col: str,
               value_col: str, **kwargs) -> DataFrame:
    from .operators.profile import psi_drift

    return psi_drift(self, candidate, key_col, value_col, **kwargs)


def _ols_trend(self: DataFrame, key_col: str, x_col: str,
               y_col: str) -> DataFrame:
    from .operators.timeseries import ols_trend

    return ols_trend(self, key_col, x_col, y_col)


def _char_entropy(self: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    from .operators.quality import char_entropy

    return char_entropy(self, id_col, text_col)


def _label_propagation(self: DataFrame, src_col: str = "src",
                       dst_col: str = "dst", rounds: int = 5) -> DataFrame:
    from .operators.pagerank import label_propagation

    return label_propagation(self, src_col, dst_col, rounds)


def _chunk_documents(self: DataFrame, chunk_tokens: int = 128,
                     overlap: int = 32, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    from .functions.text import chunk_documents

    return chunk_documents(self, chunk_tokens, overlap, id_col, text_col)


def _range_split_points(self: DataFrame, col: str,
                        n_partitions: int) -> DataFrame:
    from .operators.layout import range_split_points

    return range_split_points(self, col, n_partitions)


def _token_budget_sample(self: DataFrame, budget: float, weight_col: str,
                         order_col: str, **kwargs) -> DataFrame:
    from .operators.sampling import token_budget_sample

    return token_budget_sample(self, budget, weight_col, order_col, **kwargs)


def register_dataframe_api() -> None:
    """Attach the reference-parity method surface to DataFrame (idempotent).
    The extension operators ride along so a reference user migrating to
    this library reaches the whole toolkit through the same idiom."""
    _METHODS.update(
        skew_join=_skew_join,
        get_cms=_get_cms,
        count_per_partition=count_per_partition,
        show_count_per_partition=show_count_per_partition,
        partition_stats=partition_stats,
        show_partition_stats=show_partition_stats,
        timed_save=timed_save,
        ensure_dataframe_equals=assert_df_equal,
        merge_upsert=_merge_upsert,
        snapshot_diff=_snapshot_diff,
        bottom_k_sample=_bottom_k,
        chunk_dedup_stats=_chunk_dedup_stats,
        exact_substring_runs=_exact_substring_runs,
        remove_duplicate_spans=_remove_duplicate_spans,
        semdedup=_semdedup,
        temperature_mix=_temperature_mix,
        sequence_packing=_sequence_packing,
        incremental_exact_dedup=_incremental_exact_dedup,
        get_bloom=_get_bloom,
        bm25_topk=_bm25_topk,
        link_records=_link_records,
        zorder_key=_zorder_key,
        hilbert_key=_hilbert_key,
        join_size_estimate=_join_size_estimate,
        profile=_profile,
        holt_winters=_holt_winters,
        triangle_count=_triangle_count,
        canonicalize_urls=_canonicalize_urls,
        dhash_images=_dhash_images,
        phash_near_dup=_phash_near_dup,
        psi_drift=_psi_drift,
        ols_trend=_ols_trend,
        char_entropy=_char_entropy,
        label_propagation=_label_propagation,
        chunk_documents=_chunk_documents,
        range_split_points=_range_split_points,
        token_budget_sample=_token_budget_sample,
    )
    for name, fn in _METHODS.items():
        setattr(DataFrame, name, fn)


def unregister_dataframe_api() -> None:
    for name in _METHODS:
        if hasattr(DataFrame, name):
            delattr(DataFrame, name)
