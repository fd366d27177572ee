"""Query + oracle registry — the engine's declared surface.

Every operator the engine claims (SURVEY.md §2.2) registers here with:
  - a callable ``(spark, sf_dir) -> DataFrame`` (the Spark-native plan), and
  - optionally an ANSI-SQL oracle string DuckDB can run on the same parquet
    tables (omit for nondeterministic / non-SQL-expressible ops → the
    driver records a weaker rows-only check).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# ---------------------------------------------------------------------------
# Grading order.  The driver grades a PREFIX of the registered names (rounds
# 2–13: exactly the first 50), so registration order is the lever that
# decides which operators get a driver correctness row.  Rotation after
# round 13 (VERDICT r13 #2): flagship first, then the eight queries whose
# memo lifetime or plan the one-lifetime memo change touched (the curation
# ladder's nested memos and two-star labels now rebuild per clearCache
# epoch, which the four curation/export capstones read; the ALS output is
# persisted once per epoch for the recommender and its audit; the span
# report's island count is reused per memo handle; the embedding GEMM
# sizes its tiles from a row count on an unreadable footer), then the six
# round-13 rewrites not yet graded, then the stalest cohort
# (graded r9) in its original order until the prefix is full.  Past the
# prefix: the rest of the r9 cohort, then the r10-, r11- and r13-graded
# cohorts, stalest first.  tests/test_registry_order.py pins this.
# ---------------------------------------------------------------------------
GRADING_ORDER: list[str] = [
    # -- slot 1: flagship (always first; re-graded every round) --
    "q_topk_similar_items",
    # -- slots 2-9: memo lifetime or plan changed since the r13 grade --
    "q_corpus_curation",
    "q_export_manifest",
    "q_export_chunks",
    "q_export_release",
    "q_recommend_als",
    "q_recommend_als_audit",
    "q_dedup_spans",
    "q_dedup_embedding",
    # -- slots 10-15: round-13 rewrites not yet graded --
    "q_dedup_near",
    "q_dedup_near_exact",
    "q_export_manifest_rewritten",
    "q_dedup_semantic",
    "q_text_chunks",
    "q_dedup_containment",
    # -- slots 16-50: the 35 stalest r9-graded names, original order --
    "q_math_funcs",
    "q_date_funcs",
    "q_json_funcs",
    "q_array_funcs",
    "q_agg_stats",
    "q_agg_string_agg",
    "q_except",
    "q_intersect",
    "q_window_running",
    "q_window_sliding",
    "q_late_data_filter",
    "q_stream_tumbling_exec",
    "q_stream_user_counter_exec",
    "q_stream_session_exec",
    "q_stream_attribution_exec",
    "q_dedup_components_exact",
    "q_knn_cosine_lsh_exact",
    "q_dedup_simhash_exact",
    "q_pagerank_exact",
    "q_kmeans_exact",
    "q_stream_sink_parquet_exec",
    "q_knn_cosine",
    "q_dedup_components_twostar",
    "q_dedup_exact",
    "q_embedding_label_stats",
    "q_knn_cosine_ivf",
    "q_knn_per_label",
    "q_sample_reservoir_per_lang",
    "q_sketch_countmin",
    "q_text_bpe_tokens",
    "q_text_doc_stats",
    "q_text_langid",
    "q_text_quality",
    "q_text_token_stats",
    "q_text_winnow_pairs",
    # ------------------------------------------------------------------
    # Past the 50-slot grading prefix, stalest cohort first, each in its
    # original order: the rest of the r9-graded cohort, then the r10-,
    # r11- and r13-graded cohorts (r13 freshest — the round-13 prefix).
    # ------------------------------------------------------------------
    "q_text_wordcount",
    "q_udf_znorm_per_user",
    "q_join_bloom",
    "q_mixture_resample",
    "q_pack_blocks",
    # -- round-10-graded cohort --
    "q_knn_batch_ivf",
    "q_sample_source_cap",
    "q_graph_triangles",
    "q_stream_dedup_docs_exec",
    "q_scan_jsonl_docs",
    "q_dedup_lsh_recall",
    "q_dedup_span_rewrite",
    "q_dedup_span_rewrite_audit",
    "q_stream_incremental_stats_exec",
    "q_stream_scd2_exec",
    "q_window_ntile",
    "q_window_first_last",
    "q_topk_similar_dimsum",
    "q_agg_approx_distinct",
    "q_dedup_components",
    "q_dedup_simhash",
    "q_kmeans_embeddings",
    "q_knn_cosine_lsh",
    "q_multimodal_framesample",
    "q_multimodal_resize",
    "q_pagerank_items",
    "q_sample_split",
    "q_sample_weighted",
    "q_string_funcs",
    "q_text_bigrams",
    "q_knn_cosine_ivf_indexed",
    "q_sample_temperature",
    "q_text_keywords",
    "q_events_scd2",
    "q_text_bm25",
    "q_global_shuffle",
    "q_text_ccnet_buckets",
    "q_text_pii",
    "q_skew_profile",
    "q_agg_having_q11",
    "q_agg_max_q15",
    "q_agg_pricing_summary",
    "q_agg_q6_forecast",
    "q_anti_scalar_q22",
    "q_corr_min_q2",
    "q_corr_scalar_q17",
    "q_join_agg_q10",
    # -- round-11-graded cohort --
    "q_stream_neardup_docs_exec",
    "q_corpus_curation_clf",
    "q_text_quality_classifier",
    "q_text_tfidf",
    "q_pack_shuffled",
    "q_dedup_jaccard_pairs",
    "q_embedding_quantize",
    "q_events_anomaly",
    "q_graph_degree_stats",
    "q_join_agg_q12",
    "q_join_agg_q14",
    "q_join_agg_q18",
    "q_join_agg_q3",
    "q_join_agg_q5",
    "q_join_agg_q7",
    "q_join_agg_q8",
    "q_join_agg_q9",
    "q_join_exists_q4",
    "q_join_inner",
    "q_join_multi_exists_q21",
    "q_join_or_q19",
    "q_multimodal_audio_windows",
    "q_multimodal_features",
    "q_nested_exists_q20",
    "q_notin_distinct_q16",
    "q_outer_agg_q13",
    "q_sample_stratified",
    "q_text_boilerplate",
    "q_text_unigram_lm",
    "q_udf_reg_corr",
    "q_window_session",
    "q_scan_csv_ratings",
    "q_scan_csv_quoted",
    "q_stream_ann_index_exec",
    "q_union_all",
    "q_cond_funcs",
    "q_join_salted_skew",
    "q_scan_pruned",
    "q_map_funcs",
    "q_filter_compound",
    "q_topn_orders",
    "q_window_rank",
    # -- round-13-graded cohort (freshest — the round-13 prefix) --
    "q_corpus_curation_decon",
    "q_text_pii_redact",
    "q_stream_curation_exec",
    "q_stream_semdedup_exec",
    "q_stream_release_exec",
    "q_text_contamination",
    "q_histogram",
    "q_agg_distinct",
    "q_agg_grouping_sets",
    "q_agg_percentiles",
    "q_agg_rollup",
    "q_agg_salted_twophase",
    "q_audit_constraints",
    "q_events_funnel",
    "q_events_retention",
    "q_item_cooccurrence",
    "q_item_rater_counts",
    "q_item_similarity",
    "q_join_anti",
    "q_join_asof",
    "q_join_broadcast",
    "q_join_fuzzy_names",
    "q_join_left",
    "q_join_selfpair",
    "q_join_semi",
    "q_join_theta_range",
    "q_pairwise_stats",
    "q_pivot_events",
    "q_ratings_matrix",
    "q_recommend_topn",
    "q_stateful_dedup_events",
    "q_text_repetition",
    "q_topk_similar_dimsum_exact",
    "q_user_stats",
    "q_window_lag_lead",
    "q_window_range_frame",
    "q_window_topk_per_group",
    "q_window_tumbling",
    "q_stream_ann_compact_exec",
    "q_stream_attribution_outer_exec",
    "q_stream_attribution_full_exec",
    "q_agg_cube",
    "q_scan_parquet",
    "q_project_expr",
]


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: declare a query (and its DuckDB oracle) under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registrations run, then rebuild the
    registry dicts in :data:`GRADING_ORDER` (idempotent).

    Names missing from ``GRADING_ORDER`` are appended in registration order
    rather than dropped — the strict both-ways equality lives in
    tests/test_registry_order.py so a forgotten entry fails CI, not the
    grading driver.
    """
    from .operators import (  # noqa: F401
        recsys,
        relational,
        aggregates,
        windows,
        setops,
        scalars,
        events,
        text,
        dedup,
        embeddings,
        graph,
        multimodal,
        sampling,
        udfs,
    )
    from . import sql  # noqa: F401
    from .streaming import queries  # noqa: F401

    ordered = [n for n in GRADING_ORDER if n in QUERIES]
    ordered += [n for n in QUERIES if n not in GRADING_ORDER]
    reordered = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)
    oracles = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(oracles)
