"""Declared correctness queries (SURVEY.md §2.11).

Each submodule exposes:
  QUERIES: dict[name, Callable[(SparkSession, sf_dir), DataFrame]]
  ORACLES: dict[name, str]  — DuckDB-runnable ANSI SQL mirror (omitted
           for non-SQL-expressible operators; driver then does a weaker
           rows-only check).

Determinism contract (SURVEY.md §1.2 FP-noise note): every aggregate
over doubles is computed through exact DECIMAL intermediates in BOTH
the Spark query and the oracle SQL, with a final cast to DOUBLE —
identical bit-for-bit results regardless of partitioning/accumulation
order. Every computed column carries the same alias on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    audio,
    audit,
    behavior,
    classify,
    corpus,
    dedup,
    evaluation,
    linkage,
    multimodal,
    relational,
    sampling,
    similarity,
    sketches,
    sql_surface,
    streaming_batch,
    text,
    training,
    udf_surface,
)

_MODULES = (
    relational,
    corpus,
    streaming_batch,
    text,
    similarity,
    dedup,
    multimodal,
    sql_surface,
    udf_surface,
    sampling,
    training,
    behavior,
    classify,
    sketches,
    linkage,
    evaluation,
    audit,
    audio,
)


# Driver-coverage rotation (VERDICT r4 #3): the round driver checks
# only the FIRST 50 entries of queries() in registration order, so
# across r1–r4 the union of CORRECTNESS artifacts covered just 70 of
# 161 declared queries. The list below front-loads the 91 queries that
# have NEVER appeared in a CORRECTNESS_r*.json (plus this round's
# ADVICE-touched fixes first, so the driver certifies them), computed
# from the r1–r4 artifacts. Names not listed keep module order after
# these. Rotate next round: drop names once a CORRECTNESS artifact
# shows them green, so the uncovered tail keeps surfacing.
_DRIVER_PRIORITY = (
    # Every consumer of the baseline JPEG decoder, whose entropy walk is
    # now the lock-step walk (multimodal/jpeg.py), and the codec-compress
    # queries whose last certification predates the vectorized codec.
    "m1_image_compress",
    "m12_bmp_compress",
    "m14_png_compress",
    "m18_jpeg_compress",
    "m19_phash_dedup",
    "m20_avi_frame_sample",
    "m21_mov_frame_sample",
    "m22_fmp4_frame_sample",
    "m23_mkv_frame_sample",
    # r11 rotation: (a) queries NEW or REWORKED this round — q151
    # composition flagship, the q17/q23 hash-promotions (VERDICT r10
    # #6), the q147 top-K replan (ADVICE r10), the MKV unknown-size fix
    # (m23), and the streaming drain-floor rework (st15 + the stateless
    # registry drains); (b) the stalest driver-certified names (latest
    # green artifact r5-r6 era) so staleness keeps cycling out.
    # (a) new / reworked in r11
    "q151_corpus_build",
    "q152_lsh_recall_audit",
    "q153_repetition_signals",
    "q154_split_leakage_audit",
    "q155_jaccard_threshold_sweep",
    "m24_mp3_metadata",
    "q17_approx_distinct",
    "q23_approx_percentiles",
    "q147_chi2_token_lang",
    "st15_streaming_lsh_dedup",
    "st13_streaming_hll_registers",
    "st16_streaming_cms_counts",
    "st17_streaming_exact_quantiles",
    "st18_streaming_zonemap",
    "st19_streaming_benford",
    "st20_streaming_ewma",
    # (b) stalest driver certification first
    "q4b_parts_with_sales",
    "q6b_cube",
    "q89_distribution_ranks",
    "st10_custom_source_stream",
    "st11_streaming_dedup_ttl",
    "st12_stream_static_enrich",
    "st1_streaming_tumbling",
    "st2_streaming_session",
    "st3_streaming_late_data",
    "st4_stream_stream_join",
    "st5_stateful_user_totals",
    "st6_streaming_dedup",
    "st8_streaming_txlog_exactly_once",
    "st9_streaming_view_maintenance",
    "q25_grouped_map",
    "q26_deterministic_sampling",
    "q57_group_topk_sample",
    "q78_correlated_scalar_subquery",
    "q80_filtered_aggregates",
    "q82_triangle_count",
    "q90_sql_registered_udf",
    "q104_stratified_quota_sample",
    "q105_sliding_distinct_users",
    "q106_benford_audit",
    "q109_revenue_trend",
    "q112_markov_transitions",
    "q114_weekday_seasonality",
    "q121_pq_adc_topk",
    "q124_ivf_probe_topk",
    "q126_matryoshka_rank_audit",
    "q33_sequence_packing",
    "q34_pii_redaction",
    "q35_event_funnel",
    "q36_column_profile",
    "q37_merge_upsert",
    "q38_zorder_layout",
)


def _prioritized(full: dict) -> dict:
    ordered = {n: full[n] for n in _DRIVER_PRIORITY if n in full}
    ordered.update((n, v) for n, v in full.items() if n not in ordered)
    return ordered


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return _prioritized(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
