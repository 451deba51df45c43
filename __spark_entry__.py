"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over zarr_climate_etl_ipfs_spark.plans.queries — the operator
inventory catalog (one entry per implemented operator from SURVEY.md §2).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the pricing summary."""
    return REGISTRY["pricing_summary"].fn(spark, "/root/testdata/sf0.001")


# The correctness driver snapshots the first 50 names of this dict in
# iteration order. Rotation contract (ROTATION.md): STRICT OLDEST-FIRST --
# never-attested queries lead (registry order), then ascending
# last-driver-round with ties in that round's snapshot key order. The list
# below is GENERATED, not hand-curated: run
# `python tools/rotation_audit.py --next-round N` after each round's
# CORRECTNESS_rN.json lands and paste the emitted list verbatim; the same run
# regenerates ROTATION_STATUS.md (staleness dashboard).
_ROTATE_FIRST = [
    'ols_trend_detrend', 'ngram_decontamination', 'encoding_quality',
    'idw_regrid', 'tx90p_exceedance', 'source_span_overlap',
    'token_stats', 'text_quality', 'language_id',
    'dedup_exact', 'minhash_signatures', 'ngram_jaccard_pairs',
    'minhash_lsh_neardups', 'knn_brute_force', 'embedding_neardup_pairs',
    'sessionize', 'nearest_tolerance', 'cf_time_roundtrip',
    'append_bridge_check', 'nan_binomial_gate', 'shipping_priority',
    'local_supplier_volume', 'union_concat', 'rename_project',
    'tumbling_window_stats', 'rolling_revenue', 'climatology_anomaly',
    'cube_revenue', 'order_priority_count', 'customers_without_orders',
    'returned_items', 'streaming_session_windows', 'rx5day',
    'etccdi_day_counts', 'zarr_v3_store_roundtrip', 'kerchunk_refs_roundtrip',
    'store_compact_effect', 'ivf_incremental_knn', 'polygon_mask_concave',
    'store_lifecycle_diff', 'streaming_degree_days', 'zonal_stats',
    'dry_spell_indices', 'ivf_persisted_knn', 'grib2_publish_roundtrip',
    'typo_candidate_pairs', 'theil_sen_trend', 'robust_zscore_outliers',
    'cusum_changepoint', 'streaming_cusum_drift', 'siegel_repeated_median_trend',
    'asof_nearest', 'pivot_status_priority', 'embedding_lsh_neardups',
    'decontamination', 'doc_chunks', 'term_frequency',
    'pii_scrub', 'repetition_ratio', 'stratified_sample',
    'sequence_packing', 'streaming_backfill_dedup', 'multimodal_decode_roundtrip',
    'embedding_lsh_neardups_wide', 'tfidf_top_terms', 'paragraph_dedup',
    'degree_days', 'heatwave_spells', 'bm25_top_docs',
    'domain_mixture_weights', 'dedup_keep_best', 'zarr_store_roundtrip',
    'duplicate_spans', 'semdedup_survivors', 'streaming_running_extremes',
    'hll_user_distinct', 'bloom_decontamination', 'countmin_heavy_hitters',
    'bigram_logprob_quality', 'media_probe_stats', 'nation_pair_volume',
    'rollup_revenue', 'resample_daily', 'coarsen_grid',
    'fill_gaps_interp', 'simhash_neardups', 'dedup_components',
    'ivf_knn', 'hash_sample', 'forecast_store_roundtrip',
    'catalog_lifecycle', 'hindcast_store_roundtrip', 'document_chunking',
    'quota_sample', 'repetition_stats', 'streaming_running_extremes_v2',
    'dedup_keep_first', 'streaming_hourly_stats', 'curation_pipeline',
    'range_band_join', 'value_percentiles', 'nested_top_values',
    'funnel_conversion', 'image_resize_stats', 'pagerank_exact',
    'incremental_rollup_merge', 'video_frame_sample', 'audio_feature_extract',
    'url_canonicalize', 'sq_ann_topk', 'streaming_stream_join',
    'bilinear_regrid', 'bpe_token_estimate', 'winnowing_fingerprints',
    'unigram_logprob_quality', 'streaming_zscore_anomalies', 'pricing_summary',
    'point_select', 'time_slice', 'label_list_filter',
    'update_key_split', 'dim_broadcast_join', 'asof_join',
    'qc_value_compare', 'bbox_extent', 'temporal_extent',
    'null_frequency', 'extent_union', 'gaps_islands',
    'cadence_violations', 'next_date', 'window_rank',
    'topk_revenue', 'set_ops_keys', 'lon_normalize',
    'date_buckets', 'regex_date_extract', 'json_props',
    'extreme_bounds', 'snap_to_grid', 'split_leakage',
    'shot_boundaries', 'sentinel_null_mask', 'date_bucket_path',
    'image_phash_dedup',
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = [n for n in _ROTATE_FIRST if n in REGISTRY]
    ordered += [n for n in REGISTRY if n not in set(ordered)]
    return {name: REGISTRY[name].fn for name in ordered}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle is not None}
