"""Central registry of (query, oracle) pairs for the driver contract.

Every implemented operator from SURVEY.md §2 appears here as a named
query ``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, a
DuckDB oracle twin. Queries without an oracle get the driver's weaker
rows-only check (custom hashing / streaming ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    analytics,
    layout_plans,
    llm_ops,
    mixture,
    olap_ext,
    sampling_plans,
    scoring,
    text_quality,
    tpch,
    tpch2,
    tpch3,
    warehouse,
    web_curation,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {
    "q01_monthly_revenue": analytics.q01_monthly_revenue,
    "q02_customer_tier": analytics.q02_customer_tier,
    "q03_product_performance": analytics.q03_product_performance,
    "q04_retention_cohort": analytics.q04_retention_cohort,
    "q05_daily_anomaly": analytics.q05_daily_anomaly,
}

ORACLES: dict[str, str] = {
    "q01_monthly_revenue": analytics.Q01_ORACLE,
    "q02_customer_tier": analytics.Q02_ORACLE,
    "q03_product_performance": analytics.Q03_ORACLE,
    "q04_retention_cohort": analytics.Q04_ORACLE,
    "q05_daily_anomaly": analytics.Q05_ORACLE,
}

QUERIES.update(warehouse.QUERIES)
ORACLES.update(warehouse.ORACLES)
QUERIES.update(llm_ops.QUERIES)
ORACLES.update(llm_ops.ORACLES)
QUERIES.update(sampling_plans.QUERIES)
ORACLES.update(sampling_plans.ORACLES)
QUERIES.update(layout_plans.QUERIES)
ORACLES.update(layout_plans.ORACLES)
QUERIES.update(text_quality.QUERIES)
ORACLES.update(text_quality.ORACLES)
QUERIES.update(mixture.QUERIES)
ORACLES.update(mixture.ORACLES)
QUERIES.update(olap_ext.QUERIES)
ORACLES.update(olap_ext.ORACLES)
QUERIES.update(scoring.QUERIES)
ORACLES.update(scoring.ORACLES)
QUERIES.update(tpch.QUERIES)
ORACLES.update(tpch.ORACLES)
QUERIES.update(tpch2.QUERIES)
ORACLES.update(tpch2.ORACLES)
QUERIES.update(tpch3.QUERIES)
ORACLES.update(tpch3.ORACLES)
QUERIES.update(web_curation.QUERIES)
ORACLES.update(web_curation.ORACLES)

# --- Driver correctness window rotation (round 12) ------------------------
# The driver hash-checks the FIRST 50 insertion-ordered entries of
# QUERIES. Since round 12 the window is computed MECHANICALLY by
# tools/window_plan.py (never-driver-checked entries first, then
# oldest-green-first over all CORRECTNESS_r*.json, ties by query
# number) — the literal below IS that tool's output, pinned by
# tests/test_window_plan.py against artifacts <= _WINDOW_PLANNED_FROM
# (so the driver's post-close artifact can never redden the pin).
# Planned from CORRECTNESS_r14.json: every entry has been checked, so
# the window leads with the 13 r10-stale entries (q116-q122,
# q151-q156), then the 37 oldest r11 entries. Entries outside the
# window remain proven every
# round by tests/test_oracle_parity.py's full-registry sf0.001 sweep;
# only driver-row freshness rotates. After adding a new query, re-run
# `python tools/window_plan.py --block` and paste the result here.
_WINDOW_PLANNED_FROM = 14
_WINDOW_FIRST = [
    "q116_budget_trim",  # last green: r10
    "q117_temperature_mixture",  # last green: r10
    "q118_bpe_pair_counts",  # last green: r10
    "q119_bm25_topk",  # last green: r10
    "q120_hybrid_rrf",  # last green: r10
    "q121_curriculum_schedule",  # last green: r10
    "q122_dsir_weights",  # last green: r10
    "q151_embedding_gramian",  # last green: r10
    "q152_gramian_merge",  # last green: r10
    "q153_domain_language_mix",  # last green: r10
    "q154_gap_fill_forward",  # last green: r10
    "q155_gap_fill_interpolate",  # last green: r10
    "q156_robust_anomaly_stats",  # last green: r10
    "q24_minhash_lsh_dedup",  # last green: r11
    "q25_simhash_pairs",  # last green: r11
    "q26_embedding_topk",  # last green: r11
    "q27_embedding_neardup",  # last green: r11
    "q28_ivf_topk",  # last green: r11
    "q29_doc_fingerprint",  # last green: r11
    "q30_sessionization",  # last green: r11
    "q31_event_rollup",  # last green: r11
    "q32_event_props_extract",  # last green: r11
    "q33_multimodal_features",  # last green: r11
    "q36_event_funnel",  # last green: r11
    "q37_asof_join",  # last green: r11
    "q38_range_join",  # last green: r11
    "q41_hyperplane_lsh_neardup",  # last green: r11
    "q43_train_test_split",  # last green: r11
    "q44_vocab_topk",  # last green: r11
    "q45_sequence_packing",  # last green: r11
    "q46_contamination",  # last green: r11
    "q52_corpus_funnel",  # last green: r11
    "q53_order_value_quantiles",  # last green: r11
    "q55_embedding_stats",  # last green: r11
    "q59_dedup_clusters",  # last green: r11
    "q88_weighted_sample",  # last green: r11
    "q92_topk_sketch_rollup",  # last green: r11
    "q93_frame_sample",  # last green: r11
    "q94_ivfadc_exact",  # last green: r11
    "q95_dup_span_removal",  # last green: r11
    "q96_snapshot_diff",  # last green: r11
    "q97_dedup_keep_longest",  # last green: r11
    "q98_json_flatten",  # last green: r11
    "q123_fim_transform",  # last green: r11
    "q124_tokenizer_fertility",  # last green: r11
    "q125_span_corruption",  # last green: r11
    "q126_hard_negatives",  # last green: r11
    "q127_behavior_sequences",  # last green: r11
    "q128_eval_decontamination",  # last green: r11
    "q129_sharded_curriculum",  # last green: r11
]
_rotated = {k: QUERIES[k] for k in _WINDOW_FIRST if k in QUERIES}
for _k, _v in QUERIES.items():
    _rotated.setdefault(_k, _v)
QUERIES = _rotated
