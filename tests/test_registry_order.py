"""Pin the grading-order invariants (registry.GRADING_ORDER).

The grading driver checks a PREFIX of the registered query names (rounds
2-13: exactly the first 50), so registration order decides which operators
receive a driver correctness row.  The rotation after round 13 (VERDICT
r13 #2): the prefix first re-grades the eight queries whose memo lifetime
or plan the one-lifetime memo change touched (the curation ladder and
the three export capstones reading it, the ALS recommender and its audit,
the span report, the embedding GEMM's unknown-size tiling), then the six
round-13 rewrites not yet graded, then the stalest cohort
(graded r9) in its original registration order until the prefix is full.
The rest of that cohort leads the post-prefix queue: the deferral rule
is "cohort age, then original order", not per-query judgment calls.
"""

from __future__ import annotations

from recsys_mapreduce_mrjob_spark import registry

PREFIX = 50

# Memo lifetime or plan changed since their last grade.
CHANGED = {
    "q_corpus_curation",
    "q_export_manifest",
    "q_export_chunks",
    "q_export_release",
    "q_recommend_als",
    "q_recommend_als_audit",
    "q_dedup_spans",
    "q_dedup_embedding",
}

# Rewritten in round 13 and not yet graded.
UNGRADED_REWRITES = {
    "q_dedup_near",
    "q_dedup_near_exact",
    "q_export_manifest_rewritten",
    "q_dedup_semantic",
    "q_text_chunks",
    "q_dedup_containment",
}

# The round-9-graded cohort members that FIT the remaining 35 slots —
# the FIRST 35 of the r9 cohort in its original registration order (the
# auditable stalest-first rule; no per-query picking).
R9_IN_PREFIX = [
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
]

# The 5 r9-graded names the 50-slot prefix could not fit; they lead the
# post-prefix queue in the cohort's original order.
DEFERRED_R9 = [
    "q_text_wordcount",
    "q_udf_znorm_per_user",
    "q_join_bloom",
    "q_mixture_resample",
    "q_pack_blocks",
]


def _loaded_names() -> list[str]:
    registry.load_all()
    return list(registry.QUERIES)


def test_grading_order_matches_registrations_exactly():
    names = set(_loaded_names())
    listed = set(registry.GRADING_ORDER)
    assert listed == names, (
        f"GRADING_ORDER out of sync: missing={sorted(names - listed)} "
        f"stale={sorted(listed - names)}"
    )
    assert len(registry.GRADING_ORDER) == len(set(registry.GRADING_ORDER))


def test_registry_iterates_in_grading_order():
    assert _loaded_names() == registry.GRADING_ORDER


def test_flagship_is_first():
    assert _loaded_names()[0] == "q_topk_similar_items"


def test_changed_queries_lead_the_prefix():
    """The queries whose memo lifetime or plan changed sit in slots 2-9 —
    re-graded even if the driver's cutoff ever shrinks below 50: their
    hashes are the proof the per-epoch rebuilds changed nothing graded."""
    head = set(_loaded_names()[1 : 1 + len(CHANGED)])
    assert head == CHANGED


def test_ungraded_rewrites_follow_the_changed_queries():
    names = _loaded_names()
    start = 1 + len(CHANGED)
    assert set(names[start : start + len(UNGRADED_REWRITES)]) == UNGRADED_REWRITES


def test_r9_tail_fills_the_prefix_stalest_first():
    """The last prefix slots take the r9 cohort's FIRST names in their
    original order — the deferral rule is cohort age + original order,
    auditable from the lists alone."""
    names = _loaded_names()
    start = 1 + len(CHANGED) + len(UNGRADED_REWRITES)
    assert names[start : start + len(R9_IN_PREFIX)] == R9_IN_PREFIX
    assert start + len(R9_IN_PREFIX) == PREFIX


def test_deferred_r9_leads_the_post_prefix_queue():
    assert _loaded_names()[PREFIX : PREFIX + len(DEFERRED_R9)] == DEFERRED_R9


def test_prefix_is_exactly_the_verification_set():
    prefix = set(_loaded_names()[:PREFIX])
    for label, group in (
        ("flagship", {"q_topk_similar_items"}),
        ("changed", CHANGED),
        ("ungraded-rewrites", UNGRADED_REWRITES),
        ("r9-cohort", set(R9_IN_PREFIX)),
    ):
        assert group <= prefix, f"{label} outside prefix: {sorted(group - prefix)}"
    # The prefix is exactly these sets — no slot wasted on redundant variants.
    assert prefix == (
        {"q_topk_similar_items"} | CHANGED | UNGRADED_REWRITES | set(R9_IN_PREFIX)
    )


def test_entry_views_preserve_order():
    import __spark_entry__ as entry

    assert list(entry.queries()) == registry.GRADING_ORDER
    oracle_names = list(entry.oracle_sql())
    assert oracle_names == [n for n in registry.GRADING_ORDER if n in registry.ORACLES]
