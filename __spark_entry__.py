"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``analysis_of_flight_delay_data_by_mapreduce_spark``
(see ``plans/synthetic.py`` for the registry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 Delay shape — pivoted weighted mean) on sf0.001."""
    return synthetic.QUERIES["q1_delay"](spark, "/root/testdata/sf0.001")


# The driver records CORRECTNESS rows for only the first 50 registered
# entries; registry order is ours to choose. The window leads with the
# faces whose Spark code changed last (the shared interval frame,
# one-table LSH) and the similarity pandas-UDF faces, then the only
# faces that write through upsert_partitions and write_orc, then the
# only faces of three operators that were cut down to one formulation
# (pagerank_integer, read_jsonl, ratio_threshold), then every face that
# calls an operators.multimodal op — the whole codec tier crosses the
# Python-worker boundary through one shared mapInArrow helper, once per
# fixture → operator chain — then embedding_label_pca, the grouped
# applyInPandas face, which also starts Python workers, then the faces
# touched by the r13 round (the exact-selector tier and the
# postings-guard dedup tier). Every rotated-out query is still
# re-verified by the full local check_oracle sweep and the pytest
# oracle replicas.
_CHECK_FIRST = [
    # --- the latest Spark-side changes: both interval-join faces build
    # one shared promo frame; one-table sign-bit LSH runs through the
    # multi-table pandas UDF ---
    "events_interval_join",
    "events_interval_join_binned",
    "ann_cosine_topk_lsh",
    # --- pandas-UDF faces of operators/similarity.py (IVF assignment,
    # PQ encoding): Python workers outside the codec tier ---
    "ann_cosine_topk_ivf",
    "embedding_pq_codes",
    # --- the only faces that reach the partition-overwrite and ORC
    # sinks of sources/sinks.py ---
    "ann_ivfpq_upsert_check",
    "orders_orc_roundtrip_check",
    # --- single-formulation operators with no other witnessed face ---
    "supplier_authority_pagerank",
    "events_jsonl_ingest_check",
    "q2_late",
    # --- codec tier: every face that crosses the one mapInArrow
    # boundary of operators/multimodal.py (_map_arrow) ---
    "multimodal_stats",
    "multimodal_bmp_decode_check",
    "multimodal_png_decode_check",
    "multimodal_gif_decode_check",
    "multimodal_jpeg_decode_check",
    "multimodal_jpeg_progressive_check",
    "multimodal_mp4_meta_check",
    "multimodal_audio_segments_check",
    "multimodal_keyframes_check",
    "multimodal_mp4_frame_sample_check",
    "multimodal_mp4_sample_table_check",
    "multimodal_video_pixels_check",
    "multimodal_h264_meta_check",
    "multimodal_h264_keyframes_check",
    "multimodal_h264_pts_check",
    "multimodal_h264_annexb_check",
    "multimodal_resize_check",
    "multimodal_video_frame_check",
    "multimodal_audio_features",
    "multimodal_frame_sample",
    "multimodal_features_ann",
    # --- grouped applyInPandas: a Python-worker face outside the codec
    # tier (workers start from session.py's daemon module) ---
    "embedding_label_pca",
    # --- r13: exact-selector tier (sketch.py) ---
    "events_quantiles_by_type",
    "user_spend_quartiles",
    "docs_quantile_sketch_check",
    "events_value_quantile_check",
    # --- r13: dedup postings guards (dedup.py, synthetic winnow) ---
    "dedup_simhash",
    "dedup_embedding",
    "dedup_minhash_recall_check",
    "dedup_simhash_check",
    "dedup_incremental_minhash_check",
    "dedup_incremental",
    "dedup_winnow_pairs",
    "dedup_ngram_jaccard_ppjoin",
    "docs_dup_spans",
    "docs_dup_span_profile",
    "docs_dup_span_strip",
    "corpus_prepare",
    "corpus_prepare_cc",
    "corpus_prepare_cc_best",
    # --- overflow (slots 51+; designated for the next window) ---
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "vocab_bpe_pair_counts",
    "events_value_mad_outliers",
    "events_mad_outliers_by_type",
    "corpus_prepare_audit",
    "dedup_components",
    "events_quantile_merge_check",
    "events_sliding",
    "nation_customer_counts",
    "orders_bloom_semijoin",
    "orders_join_size_cms_check",
    "pivot_status_revenue",
    "purchase_age_salted_join",
    "q1_delay",
    "q3_wordcount",
    "q4_repeat_visits",
    "q5_dup_dates",
    "sales_cube",
    "text_language_id",
    "text_language_id_trigram",
    "text_quality",
    "text_tfidf",
    "text_token_counts",
    "text_winnow_fingerprint",
    "user_state_intervals",
    "users_purchase_and_error",
    "users_purchase_no_refund_day",
    "vocab_build",
]


def _ordered(mapping: dict) -> dict:
    head = {k: mapping[k] for k in _CHECK_FIRST if k in mapping}
    tail = {k: v for k, v in mapping.items() if k not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(dict(synthetic.QUERIES))


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check).

    Data-derived oracles (e.g. IVF centroid literals) render against
    ``sf_dir`` — defaulting to sf0.01, the scale the driver's
    correctness gate runs at.
    """
    return _ordered(
        {name: synthetic.render_oracle(name, sf_dir) for name in synthetic.ORACLES}
    )
