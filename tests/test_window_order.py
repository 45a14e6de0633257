"""Driver-window ordering gate.

The correctness driver records oracle-verified rows for only the FIRST 50
registry entries; everything after runs under the weaker local-only check.
Round 3 nearly lost five whole families to accidental ordering, and the
recovery procedure lived only in README prose. This test makes the
invariant executable: every operator family must keep at least one
representative inside the 50-entry window, and every registered query
must belong to a declared family (so a new query can't silently dodge the
bookkeeping).
"""

from __future__ import annotations

WINDOW = 50

# family → queries. A family is "covered" when ANY member is in-window.
# Members must list EVERY query of the family so the completeness check
# below can prove the map is total.
FAMILIES: dict[str, list[str]] = {
    "scan-filter-project": ["q_filter_project", "q_tpch_q6", "q_tpch_q19"],
    "sort-topk": ["q_topk_order"],
    "set-ops": ["q_set_ops"],
    "joins": [
        "q_join_agg", "q_region_revenue", "q_semi_anti_join", "q_fuzzy_join",
        "q_tpch_q3", "q_tpch_q10", "q_tpch_q18", "q_tpch_q14",
        "q_tpch_q22", "q_tpch_q5", "q_tpch_q7", "q_tpch_q21",
        "q_tpch_q4", "q_tpch_q8", "q_tpch_q13", "q_tpch_q17",
        "q_tpch_q2", "q_tpch_q9", "q_tpch_q12", "q_tpch_q16",
        "q_tpch_q20",
    ],
    "range-join": ["q_range_join"],
    "asof-join": ["q_asof_join"],
    "aggregation": [
        "q_pricing_summary", "q_group_having", "q_distinct_counts",
        "q_cms_counts", "q_cms_merged", "q_quantile_sketch",
        "q_group_quantiles", "q_stream_group_quantiles",
        "q_stream_group_counts",
    ],
    "grouping-analytics": [
        "q_rollup", "q_cube", "q_grouping_sets", "q_pivot", "q_unpivot",
    ],
    "distribution": ["q_percentiles", "q_histogram"],
    "windows": ["q_window_topk", "q_window_running", "q_window_extended"],
    "scalar-funcs": [
        "q_scalar_funcs", "q_date_funcs", "q_string_funcs", "q_json_extract",
    ],
    "subquery": ["q_correlated_agg", "q_tpch_q15", "q_tpch_q11"],
    "events-streaming": [
        "q_events_tumbling", "q_events_sessions", "q_events_sliding",
        "q_events_rollup", "q_events_gapfill", "q_funnel", "q_retention",
        "q_rolling", "q_anomaly", "q_sessionize", "q_stream_join",
    ],
    "merge-append": [
        "q_merge_update", "q_merge_ignore", "q_append_map", "q_scd2_merge",
        "q_scd2_lookup",
    ],
    "ctas-operator": [
        "q_transform_ctas", "q_compact_roundtrip", "q_incremental_fresh",
        "q_zorder", "q_publish",
    ],
    "data-quality": [
        "q_check_column", "q_check_table", "q_profile_table", "q_outliers",
        "q_table_diff", "q_skew_report", "q_impute", "q_winsorize",
    ],
    "pipeline": ["q_training_pipeline"],
    "exact-dedup": ["q_dedup_exact", "q_bloom_dedup"],
    "minhash-neardup": ["q_minhash_neardup", "q_neardup_renamed_cols"],
    "simhash-neardup": ["q_simhash_neardup"],
    "incremental-neardup": ["q_incremental_neardup"],
    "dedup-clusters": ["q_dedup_clusters", "q_dedup_keeplist", "q_pagerank"],
    "embedding-dedup": ["q_embedding_neardup", "q_semantic_dedup"],
    "ann": [
        "q_embedding_topk", "q_ann_recall", "q_ann_lsh", "q_sq8_topk",
        "q_hard_negatives",
    ],
    "ivf-pq": [
        "q_ivf_topk", "q_ivf_trained", "q_ivfpq_topk", "q_pq_topk",
        "q_ivfpq_trained", "q_ann_persist", "q_annpq_persist",
        "q_ann_stats",
    ],
    "text-stats": [
        "q_token_stats", "q_quality_score", "q_doc_fingerprint",
        "q_top_ngrams", "q_bpe_token_count", "q_repetition_stats",
        "q_gopher_filter", "q_bpe_train", "q_bpe_encode",
    ],
    "lang-id": ["q_lang_id", "q_lang_distribution"],
    "tfidf-scoring": [
        "q_tfidf", "q_lm_score", "q_quality_classifier", "q_lm_backoff",
    ],
    "cleaning": [
        "q_pii_redaction", "q_decontaminate", "q_c4_rules",
        "q_contamination_score", "q_unicode_normalize", "q_strip_html",
    ],
    "content-dedup": [
        "q_line_dedup", "q_substring_dedup", "q_doc_line_dedup",
        "q_jaccard_join",
    ],
    "sampling": [
        "q_train_split", "q_stratified_sample", "q_seq_packing", "q_domain_mix",
        "q_dsir_weights", "q_doc_chunks", "q_unimax", "q_weighted_sample",
        "q_leakage_split", "q_temperature_mix",
    ],
}


def _registry_names() -> list[str]:
    from astro_sdk_spark.queries import _REGISTRY

    return list(_REGISTRY)


def test_family_map_is_total():
    """Every registered query belongs to exactly one family, and the map
    names no unregistered queries (except forward-declared ones that the
    window test tolerates while absent)."""
    names = set(_registry_names())
    mapped: list[str] = []
    for fam, members in FAMILIES.items():
        mapped.extend(members)
    dupes = {m for m in mapped if mapped.count(m) > 1}
    assert not dupes, f"queries in multiple families: {sorted(dupes)}"
    unmapped = names - set(mapped)
    assert not unmapped, (
        f"registered queries missing from FAMILIES (add them): {sorted(unmapped)}"
    )


def test_every_family_has_an_in_window_representative():
    names = _registry_names()
    window = set(names[:WINDOW])
    registered = set(names)
    uncovered = []
    for fam, members in FAMILIES.items():
        present = [m for m in members if m in registered]
        if not present:
            # forward-declared family (query not built yet) — window
            # coverage can't apply
            continue
        if not any(m in window for m in present):
            uncovered.append(fam)
    assert not uncovered, (
        f"families with NO driver-verified representative in the first "
        f"{WINDOW} registry entries: {uncovered} — move a variant to "
        f"_TAIL_VARIANTS to make room (see README)"
    )


def test_tail_variants_have_in_window_family_cover():
    """Everything intentionally parked in the tail must leave its family
    represented in-window — the rule _TAIL_VARIANTS encodes in comments,
    checked for real."""
    from astro_sdk_spark.queries import _TAIL_VARIANTS

    names = _registry_names()
    window = set(names[:WINDOW])
    by_query = {m: fam for fam, ms in FAMILIES.items() for m in ms}
    for tail_q in _TAIL_VARIANTS:
        fam = by_query.get(tail_q)
        assert fam is not None, f"{tail_q} not in FAMILIES"
        others = [m for m in FAMILIES[fam] if m in window]
        assert others, (
            f"tail variant {tail_q} leaves family {fam!r} unrepresented "
            f"in the driver window"
        )
