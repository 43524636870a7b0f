"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Key ordering: the driver's correctness gate covers the first 50
registered keys per round, so ``queries()`` emits keys in a rotating
priority order — keys without a hard driver verdict yet come first
(oracle-backed ones before weak rows-only ones), keys already verified
green in a previous round rotate to the back.  ``_DRIVER_VERIFIED``
is regenerated each round from the CORRECTNESS_r01..r0N artifacts:
every key with a verdict on record whose implementation is unchanged
since (changed keys are pinned in the current ``_WINDOW_50`` to
re-earn theirs).

Verdict-staleness rules (standing policy):

1. A key's verdict is stale the moment the key's OWN code changes —
   the key is pinned into the next window.
2. SHARED-INFRA EDITS ARE IMPLEMENTATION CHANGES (r11 verdict ask
   #3): an edit to a layer multiple keys execute through — core.py's
   staging/canonicalization helpers, plans/merge.py's table
   read/write protocol, streams.py's drain harness — stales the
   verdict of EVERY key that consumes the edited surface, unless that
   key re-earned in the same round the edit landed.  Consumers are
   enumerated mechanically (grep for the helper + the staged-build
   attribution in BENCH_FULL's ``cold`` map), never from memory.
3. Verdict AGE: unchanged code keeps its verdict valid, but leftover
   window slots rotate the oldest verdicts forward so no key's latest
   verdict ages more than ~5 rounds behind the current one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

engine.load_all()

# Keys with a driver verdict on record (strong green, or the weak
# rows-only verdict that is the by-design ceiling for the xxhash64 hot
# paths) whose implementation is unchanged since that verdict —
# REGENERATED each round from CORRECTNESS_r01..r0N minus the current
# window (every key changed this round is IN the window to re-earn, so
# membership here == "verdict still describes the shipped code").
# These rotate to the back of queries(); keys never driver-checked
# sort directly after the window.
_DRIVER_VERIFIED = {
    "agg_approx_distinct", "agg_bitmap_distinct", "agg_cms_portable",
    "agg_collect", "agg_corr_moments", "agg_count_distinct", "agg_cube",
    "agg_empty_check", "agg_exact_median_twopass",
    "agg_exact_quantile_grouped", "agg_group_sum", "agg_grouping_sets",
    "agg_having", "agg_histogram_fixed", "agg_incremental_merge",
    "agg_min_max_by", "agg_mode_top_freq", "agg_percentile", "agg_rollup",
    "agg_sketch_hll_merge", "agg_stats", "array_ops", "cast_types",
    "cond_case_when", "corpus_quality_weighted_sample",
    "corpus_sample_stratified", "date_arith", "date_format_tz",
    "date_series_gapfill", "dedup_distinct_rows",
    "dedup_edit_distance_blocked", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_simhash_portable", "dedup_subset_keyed", "dq_expectations",
    "events_ab_ttest", "events_anomaly_zscore",
    "events_attribution_lasttouch", "events_changepoint_cusum",
    "events_cooccurrence_lift", "events_dau_wau_mau", "events_ewma",
    "events_forecast_snaive", "events_markov_transitions",
    "events_resample_ohlc", "events_rolling_distinct",
    "events_sequence_pattern", "events_session_stats", "events_trend_ols",
    "events_user_features", "explode_lateral", "filter_between_date",
    "filter_comparison", "filter_exists_subquery", "filter_in_set",
    "filter_like", "filter_null", "flagship_q3_topk", "funnel_conversion",
    "geo_grid_nearest", "graph_pagerank", "hash_funcs",
    "join_asof_nearest", "join_asof_next_within", "join_broadcast_dim",
    "join_bucketed", "join_cross", "join_dynamic_partition_pruned",
    "join_interval_banded", "join_interval_overlap", "join_lateral_topn",
    "join_left_anti", "join_left_semi", "join_multikey_chain",
    "join_null_safe_eq", "join_null_skew_split", "join_outer_full",
    "join_outer_left", "join_scd2_pointintime", "join_shuffle_large",
    "join_skew_salted", "limit_n", "math_expr", "multimodal_binary_meta",
    "multimodal_chunk_binary", "multimodal_embed_ann",
    "multimodal_resize_meta", "orders_benford_digits",
    "orders_cohort_ltv", "orders_open_backlog", "orders_pareto_abc",
    "orders_rfm_segments", "pivot_wide", "project_rename_drop",
    "project_select", "scalar_subquery", "scan_binaryfile",
    "scan_csv_malformed", "scan_csv_schema", "scan_manifest",
    "scan_observe_metrics", "scan_parquet", "scan_parquet_nested",
    "scan_partition_pruned", "scan_rowgroup_skipping",
    "scan_schema_evolution", "scan_table_stats", "set_except",
    "set_intersect", "set_union_all", "set_union_distinct",
    "sim_ivf_partition_pruned", "sim_ivf_probe", "sim_ivf_recall_eval",
    "sim_kmeans_build", "sim_mmr_diversify", "sim_topk_lsh",
    "sim_topk_lsh_portable", "sim_vector_quantize_int8",
    "sink_compact_small_files", "sink_csv_export", "sink_parquet",
    "sink_partitioned", "sink_scd2_merge", "sink_snapshot_diff",
    "sink_zorder_layout", "sort_multi_nulls", "sql_api_parameterized",
    "sql_api_q1", "sql_api_q10", "sql_api_q11", "sql_api_q12",
    "sql_api_q13", "sql_api_q14", "sql_api_q15", "sql_api_q16",
    "sql_api_q17", "sql_api_q19", "sql_api_q20", "sql_api_q21",
    "sql_api_q22", "sql_api_q4", "sql_api_q5", "sql_api_q6", "sql_api_q7",
    "sql_api_q8", "sql_api_q9", "str_basic", "str_regex",
    "stream_additive_state_merge", "stream_datasource_sharepoint",
    "stream_dedup", "stream_dedup_resume", "stream_foreach_sink",
    "stream_session_live", "stream_sliding", "stream_stateful_custom",
    "stream_static_join", "stream_stream_join",
    "stream_stream_outer_join", "stream_tumbling", "stream_tumbling_live",
    "stream_watermark_late", "stream_watermark_resume",
    "string_agg_ordered", "text_bpe_tokenize", "text_chunk_overlap",
    "text_dataset_split", "text_decontaminate", "text_duplicate_spans",
    "text_feature_hashing", "text_fingerprint", "text_lang_filter",
    "text_langid_ngram", "text_ngram_entropy", "text_pack_sequences",
    "text_pii_scrub", "text_quality_score", "text_repetition_filter",
    "text_stats", "text_token_count", "tfidf_top_terms", "topk_per_group",
    "udaf_pandas_grouped", "udf_cogrouped_asof", "udf_pandas_cosine",
    "udf_pandas_scalar", "udf_python_scalar", "udtf_lateral_python",
    "udtf_map_in_pandas", "unpivot_long", "vocab_bpe_merges",
    "vocab_pmi_collocations", "vocab_topk", "vocab_zipf_fit",
    "win_cumulative_distinct", "win_distribution", "win_first_last",
    "win_gaps_islands", "win_lag_lead", "win_moving_avg",
    "win_ntile_bucketize", "win_range_interval", "win_rank_dense",
    "win_row_number", "win_running_sum",
}

# Round 14's 50-slot window, per the round-13 verdict's asks #2-#4
# and ADVICE:
# (a) CONSUMER PINS (staling rule 1/2) — 4 keys whose EXECUTED code
# this round's edits touch: plans/merge.py gained the NULL-part_col
# fail-fast in merge_upsert_partitioned, keeper exit-reason logging,
# and the keeper-interval cap, whose runtime consumers are exactly the
# two MERGE sinks (sink_delta_merge, sink_merge_partitioned —
# enumerated mechanically by tools/enumerate_consumers.py on the
# edited code); operators/similarity.py's _pq_train moved its
# codebook-repair path under the build lease, consumed by
# sim_pq_adc_topk and sim_topk_ivfpq (the only two call sites).  The
# 46-key STAGING consumer set is NOT staled: core.py is untouched this
# round, and the only shared code those keys execute through that
# changed — _lease_keeper — changed value-identically for every
# registry caller (all use the 600 s TTL, where the new
# min(ttl/10, 60 s) interval equals the old ttl/10 exactly; the new
# log lines sit on ownership-loss exit paths no green run takes).
# (b) VERDICT-AGE ROTATION COMPLETED (r13 ask #2): all 38 remaining
# r06/r07 keys (14 at r06 + 24 at r07, recomputed from
# CORRECTNESS_r01..r13) take the next 38 slots — with no infra bundle
# pending, the window arithmetic finally reaches the >=r08 floor.
# (c) BONUS ROTATION: the last 8 slots take the oldest (r08) verdicts,
# alphabetical, pushing the post-r14 floor toward r08+.
# Blocks below are REGENERATED by tools/gen_entry_window.py; all 257
# keys were pre-validated locally this round (full sf0.01 oracle sweep
# on final code), see COVERAGE.md.
_WINDOW_50 = [
    "agg_heavy_hitters_exact", "corpus_dedup_keep_best",
    "corpus_dedup_pipeline", "corpus_quality_pipeline",
    "dedup_containment", "dedup_fuzzy_minhash",
    "dedup_incremental_minhash", "dedup_jaccard_prefix", "dedup_lsh_eval",
    "dedup_minhash_dup_witness", "dedup_minhash_pipeline_witness",
    "dedup_simhash_stats", "graph_label_propagation",
    "graph_link_prediction", "graph_triangle_count", "join_runtime_bloom",
    "search_bm25", "search_hybrid_rrf", "sim_lsh_dup_witness",
    "sim_lsh_recall_eval", "sim_pq_adc_topk", "sim_topk_ivfpq",
    "sink_merge_partitioned", "sql_api_q2", "text_boilerplate_ratio",
    "text_lm_quality", "graph_bfs_reachability", "ingest_pipeline",
    "sink_delta_merge", "agg_approx_quantile", "agg_bool",
    "agg_incremental_rollup", "corpus_mix_weights",
    "corpus_shuffle_shard", "dedup_cluster_cc", "dedup_embedding_cosine",
    "dedup_exact_hash", "dedup_minhash_portable", "events_user_retention",
    "join_asof_latest", "join_theta_range", "map_json_ops",
    "multimodal_frame_sample", "scan_datasource_sharepoint",
    "scan_json_lines", "sim_grouped_centroid", "sim_radius_search",
    "sim_topk_bruteforce", "sql_api_q18", "stream_session",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return engine.QUERIES["flagship_q3_topk"](spark, "/root/testdata/sf0.001")


def _ordered_keys() -> list[str]:
    keys = list(engine.QUERIES)
    window = [k for k in _WINDOW_50 if k in engine.QUERIES]
    seen = set(window)
    rest_unverified_strong = [
        k for k in keys
        if k not in seen and k not in _DRIVER_VERIFIED and k in engine.ORACLES
    ]
    seen.update(rest_unverified_strong)
    rest_unverified_weak = [
        k for k in keys if k not in seen and k not in _DRIVER_VERIFIED
    ]
    seen.update(rest_unverified_weak)
    return window + rest_unverified_strong + rest_unverified_weak + [
        k for k in keys if k not in seen
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {k: engine.QUERIES[k] for k in _ordered_keys()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key (omitted ⇒ rows-only check)."""
    return {k: engine.ORACLES[k] for k in _ordered_keys() if k in engine.ORACLES}
