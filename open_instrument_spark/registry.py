"""Query registry: every implemented operator exposed as a named query
with a DuckDB oracle twin (the driver's correctness gate).

Each Spark callable takes (spark, sf_dir) → DataFrame; each oracle is
ANSI SQL over the same parquet tables (views: region nation customer
supplier part orders lineitem events documents embeddings).

Conventions for oracle parity:
- session pinned to UTC (prepare()) so naive-timestamp math matches;
- doubles that pass through untouched (or via min/max selection) are
  compared EXACTLY; doubles produced by re-associating arithmetic
  (sum/avg/stddev/median) are rounded to 6 decimals on BOTH sides;
- every computed column aliased identically on both sides;
- MapType columns never appear in outputs (serialized to the canonical
  series_key string instead) so results are hashable.

The events table stands in for the reference's points model
(FIXTURES.md §2): event_type → variable name, user_id + sparse k →
labels, value → dval. NOW is pinned to 2024-01-31 (the synthetic data
spans 2024-01) for operators whose reference semantics reference "now"
(List max_age, retention ages).
"""

from __future__ import annotations

# Shared infrastructure (QUERIES/ORACLES live there; the domain modules
# below populate them via @query at import time).
from open_instrument_spark.registry_base import (  # noqa: F401 — re-exports
    NOW,
    ORACLES,
    P_CTE,
    QUERIES,
    R_CTE,
    query,
)

# Domain modules: importing them registers every query. Order here is
# narrative only — DRIVER_WINDOW below decides what the driver replays.
from open_instrument_spark.queries import analytics, collectors, llm, temporal, tsdb  # noqa: E402,F401

# Compatibility re-exports (externally referenced symbols that moved
# into domain modules with the r6 split).
from open_instrument_spark.queries.llm import _NEAR_DUP_PLANE_STEPS  # noqa: F401
from open_instrument_spark.queries.tsdb import run_entry  # noqa: F401

# ===========================================================================
# Driver-window ordering
# ===========================================================================
# The driver verifies queries() in dict order and stops after 50 entries
# (CORRECTNESS_r01.json holds exactly the first 50 registered names).
# Registration order above follows the narrative; the rebuild below
# decides WHICH queries the driver replays:
#   - DRIVER_WINDOW: exactly 50 oracled queries, one per distinct
#     operator/semantic — every one gets rows+schema+hash checked.
#   - _PAST_WINDOW_ORACLED: redundant oracled variants (chunked twins,
#     min/max siblings of verified kernels). Their oracles stay in
#     ORACLES and tests/test_oracle_parity.py replays each against
#     DuckDB locally, so demotion loses no rigor.
#   - _PAST_WINDOW_ROWS_ONLY: approximate / sequential ops with no
#     portable oracle, each pinned by golden or recall pytests.
# Rotation invariant: a newly added oracled query enters DRIVER_WINDOW
# when it lands; the query it displaces is the one with the most driver
# correctness rows whose family keeps an in-window representative, and
# it moves to _PAST_WINDOW_ORACLED. Which query held which slot when is
# in the CORRECTNESS_r*.json reports and the git history.
DRIVER_WINDOW = [
    "flagship_rate_sum",            # keeper: the smoke-check flagship
    "select_exact_name_label_range",  # keeper: select family canary
    "agg_sum_by_name",              # keeper: aggregate family canary
    "text_bm25_multiquery",
    "retrieval_hybrid_rrf",
    "embed_kmeans_step",
    "agg_mad_outliers",
    "ingest_validate_strict",
    "agg_cross_family",
    "mutate_irate",
    "mutate_scalar_math_family",
    "corpus_dsir_sample",
    "select_label_replace",
    "mutate_calendar_family",
    "alert_slo_burn",
    "embed_knn_graph_multiprobe",
    "collector_cisco_config",
    "mutate_over_time_family",
    "corpus_split_leakage_safe",
    "mutate_counter_resets",
    "dedup_semantic",
    "dedup_spans",
    "corpus_mixture_tokens",
    "corpus_drift_psi",
    "embed_triplet_mining",
    "ann_sq_topk",
    "select_absent",
    "select_absent_over_time",
    "dedup_bloom_contaminated",
    "agg_histogram_quantile",
    "embed_knn_graph",
    "list_stale_series",
    "text_pii_scrub",
    "corpus_safety_pipeline",
    "dedup_cluster_canonical",
    "corpus_moore_lewis",
    "dedup_semantic_incremental",
    "alert_rule_transitions",
    "embed_mutual_knn_clusters",
    "embed_knn_density",
    "embed_label_propagation",
    "embed_knn_coreset",
    "embed_knn_graph_store",
    "embed_label_propagation2",
    "collector_varnish_status",
    "collector_http_fetch",
    "mutate_idelta",
    "corpus_ccnet_buckets",
    "dedup_minhash_incremental",
    "dedup_spans_redact",
]

_PAST_WINDOW_ORACLED = [
    "ann_ivfpq_seeded_topk",
    "agg_anchored_median_user0",
    "agg_count_values",
    "embed_coarse_rerank",
    "embed_kmeans_iterate2",
    "retrieval_eval_funnel",
    "ann_ivfpq_coarse_rerank",
    "corpus_weighted_sample",
    "agg_topk_series",
    "mutate_offset_compare",
    "alert_rule_states",
    "agg_cms_label_counts",
    "mutate_holt_winters",
    "mutate_cusum",
    "mutate_predict_linear",
    "text_bm25_topk",
    "embed_range_search",
    "corpus_chunk",
    "text_quality_classifier",
    "collector_mysql_status",
    "collector_system_status",
    "ann_pq_seeded_topk",
    "mutate_holt_forecast",
    "corpus_source_stats",
    "agg_distinct_series",
    "collector_proc_stat",
    "collector_apache_scoreboard",
    "corpus_source_filter",
    "collector_snmp_hoststats",
    "analytics_cohort_retention",
    "text_lm_score_topk",
    "ann_lsh_topk",
    "resample_interpolate_go",
    "multimodal_video_stats",
    "corpus_pack_partitioned",
    "mutate_min_resample",
    "mutate_max_resample",
    "agg_min_by_name",
    "agg_max_by_name",
    "agg_median_by_name",
    "agg_avg_by_label_user",
    "resample_interpolate_chunked",
    "resample_interpolate_max_gap",
    "multimodal_audio_features",
    "multimodal_video_frames",
    "analytics_large_volume",
    "text_bpe_tokens_fixed",
    "text_lm_score",
    "embed_covariance",
    "text_tfidf_top",
    "corpus_stratified_frac",
    "resample_max_anchored",
    "mutate_zscore",
    "agg_sliding_sum",
    "agg_histogram",
    "retention_report",
    "mutate_ewma",
    "corpus_pack_bpe",
    "text_scrub",
    "mutate_rate_chunked",
    "rle_encode_chunked",
    "export_render",
    "dedup_simhash_md5",
    "dedup_exact",
    "select_prefix_glob",
    "select_label_present",
    "select_label_regex",
    "select_last_n_per_series",
    "select_max_variables",
    "list_series",
    "mutate_rate",
    "mutate_latest_daily",
    "mutate_mean_resample",
    "agg_median_upper_by_name",
    "agg_multi_label_sum",
    "agg_sum_by_label_k",
    "agg_retained_single_labels",
    "agg_p95_by_name",
    "resample_uniform_avg",
    "resample_mean_anchored",
    "resample_min_anchored",
    "retention_policy",
    "rle_encode",
    "ingest_validate",
    "ingest_dedup",
    "text_stats",
    "text_repetition",
    "corpus_hash_split",
    "corpus_pack_greedy",
    "corpus_clean_pipeline",
    "corpus_clean_pipeline_v2",
    "corpus_vocab_topk",
    "corpus_stratified_sample",
    "dedup_ngram_jaccard",
    "dedup_minhash_md5",
    "dedup_clusters",
    "dedup_contamination",
    "embed_topk",
    "embed_near_dup",
    "ann_ivf_seeded_topk",
    "multimodal_blob_stats",
    "multimodal_audio_stats",
    "multimodal_resize_real",
    "analytics_pricing_summary",
    "analytics_revenue_by_nation",
    "analytics_shipping_priority",
    "api_get_chained",
    "temporal_asof_join",
    "temporal_sessionize",
    "temporal_funnel",
    "list_max_variables",
    "multimodal_decode_fake",
    "select_label_absent",
    "mutate_rate_signed",
    "mutate_delta",
    "mutate_latest_string_daily",
    "mutate_stddev_resample",
    "agg_avg_by_name",
    "ingest_hostname_default",
    "embed_quantize_uint8",
    "multimodal_frame_sample",
    "analytics_top_orders_per_customer",
    "api_get_fanout",
    "mutate_increase",
    "agg_quantile_over_time",
    "select_label_join",
    "corpus_mixture_temperature",
]

_PAST_WINDOW_ROWS_ONLY = [
    "dedup_semantic_trained",
    "dedup_semantic_arrow",   # bench twin of dedup_semantic (scale path)
    "agg_anchored_sum",
    "ann_ivfpq_topk",
    "ann_pq_topk",
    "agg_distinct_series_hll",
    "agg_p95_approx_by_name",
    "text_bpe_tokens",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_ivf_topk",
]

# Hard raises, not asserts: under `python -O` an assert vanishes and the
# rebuild below would silently DROP any registered query missing from
# _ORDERED — the query would disappear from the driver contract.
_ORDERED = DRIVER_WINDOW + _PAST_WINDOW_ORACLED + _PAST_WINDOW_ROWS_ONLY
if sorted(_ORDERED) != sorted(QUERIES):
    raise ValueError(
        f"registry order list out of sync: {sorted(set(_ORDERED) ^ set(QUERIES))}"
    )
if len(DRIVER_WINDOW) != 50 or not all(n in ORACLES for n in DRIVER_WINDOW):
    raise ValueError("DRIVER_WINDOW must be exactly 50 oracled queries")
if not all(n in ORACLES for n in _PAST_WINDOW_ORACLED):
    raise ValueError("_PAST_WINDOW_ORACLED entries must carry oracles")
if any(n in ORACLES for n in _PAST_WINDOW_ROWS_ONLY):
    raise ValueError("_PAST_WINDOW_ROWS_ONLY entries must not carry oracles")
QUERIES = {n: QUERIES[n] for n in _ORDERED}
