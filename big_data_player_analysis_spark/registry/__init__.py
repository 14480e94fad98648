"""Query registry: every implemented operator exposed as a named
(spark_fn, oracle_sql) pair for the driver contract (__spark_entry__.py).

Each entry's Spark side is built from the operator/function library; the
oracle side is ANSI SQL runnable by DuckDB on the same parquet views.
Column names are aliased identically on both sides (the driver's compare
sorts columns by name before hashing). Entries without SQL (sql=None) are
genuinely non-SQL-expressible (iterative convergence, hash-seeded LSH) and
get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    tags: tuple[str, ...] = field(default=())
    # Optional scale-capable oracle: fn(duckdb_con) -> pandas.DataFrame,
    # semantically identical to ``sql`` but implementable where a single
    # SQL statement cannot run above the sf0.01 gate (the recursive-CTE
    # transitive closures materialize O(sum |component|^2) rows; the
    # replacement replays the same fixed point iteratively). The DRIVER
    # contract still ships ``sql``; local sweeps (tools/oracle_check.py)
    # use this above sf0.01, and tests pin both paths equal at the gate.
    oracle_scale: Callable | None = field(default=None, compare=False)


_REGISTRY: dict[str, QuerySpec] = {}

# The driver records correctness rows for the FIRST 50 registry entries only
# (CORRECTNESS_r01.json ended at exactly entry 50 in registration order, which
# starved the whole reference surface q01-q18 of driver evidence in round 1).
# PRIMARY_ORDER pins the 50 entries that must land inside that window: the
# full reference surface, one representative per SURVEY.md §2.4 engine-scope
# category, the mandated LLM-pipeline operators, and the streaming tier
# (streaming last within the window so a streaming-runtime hiccup cannot
# shadow batch rows). Everything else stays registered — appended after the
# window — and is still covered by the local DuckDB oracle gate in
# tests/test_registry.py.
#
# Rotation policy (round-2 verdict): any entry whose implementation closure
# changed since its last green driver row — or that never had one — is
# promoted into the next window, displacing entries that (a) hold a green
# driver row on unchanged code and (b) have their family covered by another
# windowed entry. Mechanically enforced by tools/entry_hashes.py +
# tests/test_rotation_hygiene.py (the baseline tools/entry_hashes.json is
# refreshed only together with a rotation). The per-rotation ledger —
# formerly ~400 comment lines here — lives in ROTATION.md (round-9 verdict
# item #9), one line per rotation; full historical rationale is in git
# history of this file.
#
# Round-10 rotation (changed-code rule; see ROTATION.md r10 entry): IN
# dedup_exact, llm_bigram_surprisal, llm_cdc_chunks — the three round-10
# changed closures that sat outside the window (the other 20 changed
# entries were already in-window) — displacing multimodal_image_decode,
# multimodal_video_decode and q18_rank_vector_init: all three hash-green
# r09 on round-10-unchanged code, with family coverage retained in-window
# (still-image decode via png/jpeg/mjpeg; the RIFF-AVI container walk runs
# verbatim inside mjpeg/ipframe/mcframe; the distinct-challenger rank init
# runs verbatim inside q16's heroic_score).
#
# Round-11 rotation (ROTATION.md r11): IN q18_rank_vector_init — its
# duels derivation changed (plain window at one bucket) and it sat outside
# the window; the other three changed closures (q00, q16,
# olap_triangle_count) are in-window — displacing dedup_ngram_jaccard
# (hash-green r10 on unchanged code; near-duplicate Jaccard stays
# in-window via dedup_minhash_lsh and llm_near_dedup_survivors).
PRIMARY_ORDER: tuple[str, ...] = (
    "q00_duel_edges",
    "llm_decontaminate",
    "llm_substring_dedup",
    "dedup_exact",
    "llm_bigram_surprisal",
    "llm_cdc_chunks",
    "olap_triangle_count",
    "multimodal_ipframe_decode",
    "olap_window_distribution",
    "olap_window_topk_per_group",
    "llm_repetition_profile",
    "olap_quantile_shard_merge",
    "llm_curation_pipeline",
    "q16_heroic_iterative",
    "q18_rank_vector_init",
    "olap_partition_pruned_scan",
    "llm_corpus_curation",
    "olap_key_skew_profile",
    "dedup_simhash",
    "dedup_simhash_web",
    "llm_line_dedup",
    "olap_hll_shard_merge",
    "llm_bpe_encode",
    "llm_pack_sequences",
    "llm_near_dedup_survivors",
    "llm_near_dedup_best_quality",
    "llm_substring_dup_spans",
    "dedup_embedding_cosine",
    "dedup_components",
    "dedup_minhash_lsh",
    "multimodal_phash_dedup",
    "llm_dedup_incremental",
    "multimodal_mcframe_decode",
    "llm_bpe_train",
    "multimodal_image_resize",
    "multimodal_png_decode",
    "ann_lsh_pairs",
    "multimodal_jpeg_decode",
    "multimodal_mjpeg_decode",
    "llm_shard_assign",
    "llm_url_canonical_dedup",
    "multimodal_audio_decode",
    "olap_ks_drift",
    "stream_incremental_mv",
    "olap_top_paths",
    "stream_curation_ingest",
    "stream_near_dedup_ingest",
    "stream_stream_interval_join",
    "stream_outer_interval_join",
    "olap_cogroup_order_lag",
)

# Preferred order for entries BEYOND the driver's 50-row window (highest
# value first, should the window ever widen); unlisted entries follow in
# registration order. The rotated-out entries lead: they hold green
# r01/r02 driver rows on unchanged code.
EXTENDED_ORDER: tuple[str, ...] = (
    # round-11 displacement (hash-green r10 row on unchanged code;
    # ROTATION.md r11 entry)
    "dedup_ngram_jaccard",
    # round-10 displacements (hash-green r09 rows on round-10-unchanged
    # code; ROTATION.md r10 entry)
    "multimodal_image_decode",
    "multimodal_video_decode",
    # round-9 displacements (hash-green r08 rows on round-9-unchanged code)
    "olap_funnel_conversion",
    "llm_semantic_dedup",
    "olap_scd2_history",
    "llm_heavy_ngrams_sketch",
    # round-6 displacements (green r05 rows on round-6-unchanged code)
    "olap_rolling_average",
    "olap_retention_cohorts",
    "olap_min_cost_supplier",
    "stream_stateful_user_stats",
    "stream_tumbling_counts",
    "olap_session_window",
    "q05_domain_completion",
    "q01_count_per_key",
    "stream_late_data_drop",
    "olap_apply_in_pandas_longest_run",
    "olap_tpch_q5_region_volume",
    "llm_quality_filters",
    "llm_url_canonical_dedup",
    "dedup_simhash",
    "q08_having_count_distinct",
    "olap_asof_join",
    "q10_join_chain",
    "llm_top_ngrams",
    "llm_apply_mix",
    "q04_smoothed_avg",
    "q06_distinct_pairs",
    "sim_bruteforce_topk",
    "stream_dedup_by_id",
    "olap_salted_join",
    "llm_shard_assign",
    "olap_month_json",
    "olap_grouping_sets",
    "olap_sessionization",
    "olap_exists_correlated",
    "olap_table_profile",
    "stream_static_enrich",
    "llm_embed_dim_stats",
    "olap_window_topk_per_group",
    "llm_unigram_logprob",
    "llm_pii_redact",
    "llm_mix_weights",
    "multimodal_audio_decode",
    "olap_semi_join",
    "llm_chunk_fixed",
    "llm_chunk_tokens",
    "llm_embed_quantize_int8",
    "olap_window_time_range",
    "q17_top_k",
    "text_quality_score",
    "q14_keyed_sqdiff",
    "olap_pivot",
    "multimodal_features",
    "q03_global_argmax",
    "q13_sum_affine",
    "q15_global_mean",
    "olap_descriptive_stats",
    "text_language_id",
    "q02_count_per_derived_key",
    "q07_projection_reversal",
    "q09_equi_join",
    "q11_left_join_default",
    "q12_scalar_expression",
    "text_token_counts",
    "multimodal_frame_sample",
    "sim_ivf_topk",
    "text_fingerprint",
    "stream_sliding_avg",
    "olap_range_join",
    "olap_tpch_q1_pricing_summary",
    "llm_stratified_sample",
    "llm_tfidf_top_terms",
    "sim_knn_join_vectorized",
    "olap_rollup",
    "olap_intersect",
)


def query(
    name: str,
    sql: str | None = None,
    tags: tuple[str, ...] = (),
    oracle_scale: Callable | None = None,
):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under ``name``."""

    def deco(fn):
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, sql=sql, tags=tags, oracle_scale=oracle_scale
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # import for side effects: each module registers its queries
    from big_data_player_analysis_spark.registry import (  # noqa: F401
        llm_ops,
        olap,
        reference_surface,
        streaming_ops,
    )

    missing = [n for n in PRIMARY_ORDER if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"PRIMARY_ORDER names unregistered queries: {missing}")
    ordered = {name: _REGISTRY[name] for name in PRIMARY_ORDER}
    ordered.update(
        (name, _REGISTRY[name]) for name in EXTENDED_ORDER if name in _REGISTRY
    )
    ordered.update(
        (name, spec) for name, spec in _REGISTRY.items() if name not in ordered
    )
    return ordered
