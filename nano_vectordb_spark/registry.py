"""Query registry facade: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, an
equivalent DuckDB oracle SQL string.

The registry body lives in nano_vectordb_spark/registry_parts/ as
sequential domain modules (p00_base infra, then one module per
domain wave), imported here IN DECLARATION ORDER — registration
order is the driver's gate order, so the import sequence below is
semantic, not cosmetic. This facade then applies the gate-basket
reorders (GATE_BASKET_R3 / GATE_BASKET_R4) and re-exports the full
namespace, so `from nano_vectordb_spark import registry` keeps
working unchanged.
"""

from __future__ import annotations

from nano_vectordb_spark.registry_parts.p00_base import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p01_vector_core import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p02_quantize_refine import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p03_ivf import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p04_pq import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p05_text import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p06_dedup import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p07_relational_metrics import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p08_streaming_multimodal import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p09_pipeline_corpus import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p10_quant_variants import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p11_bpe_substr import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p12_observability import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p13_analytics_graph import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p14_analytics_ops import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p15_stats_wave import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p16_r8_wave import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p17_r9_wave import *  # noqa: F401,F403
from nano_vectordb_spark.registry_parts.p18_r10_wave import *  # noqa: F401,F403

# underscore names tests/tools rely on (star-import skips them)
from nano_vectordb_spark.registry_parts.p05_text import _csv_docs_path  # noqa: F401,E402

# every cache the registry holds lives in the session store; bench and
# notebooks drain it through this name
from nano_vectordb_spark.session import release_caches  # noqa: F401,E402

# ==========================================================================
# Driver-gate basket ordering (round 3)
#
# The driver's correctness gate checks the FIRST 50 entries in
# registration order (CORRECTNESS_r02 stopped at entry #50, leaving 54
# entries — including every r1 failure and SURVEY §2's O18/O19 — with no
# official driver verdict).  The round-2 VERDICT's top item: curate the
# top-50 into a covering set.  This list is that set:
#   * one representative per SURVEY.md §2 operator (O2-O29, O32-O33),
#   * the 9 entries that FAILED in round 1 and were never re-gated,
#   * O18 (latency_percentiles) + O19 (scan_cost_model),
#   * one-or-more representatives per never-gated family (streaming,
#     multimodal, doc search, dedup tail, LLM pipeline, relational).
# Entries beyond #50 keep their original relative order and rotate into
# the gate window in round 4 (tracked in COVERAGE.md).
# ==========================================================================

GATE_BASKET_R3: tuple[str, ...] = (
    # -- SURVEY §2 operator representatives (re-gated from the r2-green set)
    "topk_dot",                 # O4/O8/O9
    "topk_l2",                  # O7
    "topk_f16",                 # O5/O22
    "topk_i8",                  # O6
    "topk_multi_twophase",      # O10-O12/O14
    "gt_build",                 # O16
    "recall_i8_vs_f32",         # O17
    "slice_first_n",            # O2/O20
    "sample_queries",           # O21
    "sanity_stats",             # O24
    "quantize_i8",              # O23
    "quant_error_stats",        # O3
    "refine_i8",                # O29/O32
    "ivf_search",               # O26/O28
    "pq_adc_search",            # O27 (PQ-ADC)
    "opq_learned_refine_search",# O27 (learned OPQ)
    "ivfpq_refine_search",      # O27 (IVF-PQ)
    "csv_chunks_embed",         # O33 end-to-end
    # -- the 9 round-1 failures, never re-gated in round 2
    "pricing_summary",
    "top_revenue_customers",
    "events_running_window",
    "events_sessionize",
    "events_asof_purchase",
    "events_range_join",
    "events_salted_agg",
    "latency_percentiles",      # also O18
    "embedding_neardup_lsh",
    # -- O19
    "scan_cost_model",
    # -- never-gated families: streaming
    "stream_event_counts",
    "stream_dedup",
    "stream_click_attribution",
    "stream_sessionize",
    # -- never-gated families: multimodal
    "multimodal_features",
    "multimodal_frames",
    # -- never-gated families: semantic/lexical doc search
    "doc_search",
    "doc_search_bm25",
    # -- never-gated families: dedup tail
    "dedup_components",
    "simhash64_pairs",
    "corpus_clean",
    # -- never-gated families: LLM training-data pipeline
    "mixture_sample",
    "pack_sequences",
    "pii_redact",
    "decontaminate",
    # -- never-gated families: relational tail
    "events_hypertable_rollup",
    "events_funnel",
    "events_props_variant",
    "events_gapfill",
    "distinct_users_hll",
    "orders_rollup",
    "events_partitioned_scan",
)


def _reorder_registry() -> None:
    missing = [n for n in GATE_BASKET_R3 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R3 names unknown entries: {missing}")
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R3}
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()


# ==========================================================================
# Driver-gate basket ordering (round 4) — rotation 1 of 3
#
# Every GATE_BASKET_R3 entry now holds an official driver-green
# CORRECTNESS_r03 row (50/50 pass).  Per the rotation plan
# (COVERAGE.md "Driver-gate window" table, r3 VERDICT item 1), round 4
# swaps positions 51-100 of the r3 order into the gate window: the
# r2-driver-green legacy tail (flat-topk variants, IVF/PQ siblings,
# text/chunk singles, dedup/corpus family, relational tail).  The r3
# basket — already officially verdicted — parks at the END of the
# registry so the remaining never-gated entries (r3's mid-session and
# continuation additions) sit contiguously at positions 51-116, ready
# to become GATE_BASKET_R5/R6 without another shuffle.
# ==========================================================================

GATE_BASKET_R4: tuple[str, ...] = (
    # -- flat-scan top-k variants (r2-green, never re-gated)
    "topk_filtered",
    "topk_cosine",
    "topk_multi_window",
    "embedding_clusters",
    "events_trailing_window",
    # -- IVF / PQ siblings
    "ivf_search_after_add",
    "ivf_search_persisted",
    "ivf_recall_sweep",
    "pq_refine_search",
    "opq_refine_search",
    # -- text analysis singles
    "token_stats",
    "bpe_token_stats",
    "lang_id",
    "quality_score",
    "doc_fingerprint",
    # -- chunking / embed pipeline singles
    "chunk_fixed",
    "chunk_words",
    "pipeline_chunks_embed",
    "jsonl_roundtrip",
    "csv_roundtrip",
    # -- dedup / corpus family
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "corpus_release",
    "data_split",
    "bigram_commonness",
    "corpus_upsert",
    "vocab_top_terms",
    "text_normalize",
    "topk_mmr",
    "heavy_hitters_cm",
    "dedup_incremental",
    "simhash_pairs",
    "embedding_neardup_pairs",
    "doc_length_percentiles",
    # -- relational tail
    "shipping_priority",
    "semi_anti_join",
    "distinct_users_sketch",
    "local_supplier_volume",
    "nation_trade_volume",
    "nation_presence",
    "customer_balance_quartiles",
    "brand_margin",
    "order_fulfillment_latency",
    "lineitem_unpivot",
    "returned_items_report",
    "set_ops",
    "events_pivot",
    "events_props_json",
    "doc_search_ivf",
)


def _reorder_registry_r4() -> None:
    missing = [n for n in GATE_BASKET_R4 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R4 names unknown entries: {missing}")
    overlap = set(GATE_BASKET_R4) & set(GATE_BASKET_R3)
    if overlap:
        raise RuntimeError(f"GATE_BASKET_R4 repeats r3-verdicted entries: {overlap}")
    officially_gated = set(GATE_BASKET_R3)
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R4}
    # rotation queue: never-gated entries keep relative order just after
    # the window (GATE_BASKET_R5 = positions 51-100 next round)
    ordered.update(
        (n, e)
        for n, e in REGISTRY.items()
        if n not in ordered and n not in officially_gated
    )
    # entries with official driver rows park at the tail
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r4()


# ==========================================================================
# Driver-gate basket ordering (round 5) — rotation 2 of 3
#
# Every GATE_BASKET_R4 entry holds an official CORRECTNESS_r04 row
# (49 pass + 1 declared; the declaration is retired — the entry is
# oracle-backed since r5).  Per the rotation plan (COVERAGE.md
# "Driver-gate window" table, r4 VERDICT item 1), round 5 swaps the
# next 50 never-officially-gated entries — positions 51-100 of the r4
# order, i.e. the round-3 mid-session additions — into the gate window.
# The remaining 70 never-gated entries queue contiguously at positions
# 51-120 (GATE_BASKET_R6 = the first 50 of those; the final 20 close
# the record in r7).  Registry growth is FROZEN at 220 until every
# entry holds an official driver row (COVERAGE.md schedule) — the one
# sanctioned r7 exception is the pair of O31 graph-ANN entries the r6
# VERDICT directed INTO the gate window (220 -> 222, both gated in r7).
# ==========================================================================

GATE_BASKET_R5: tuple[str, ...] = (
    # -- streaming + multimodal additions (r3 mid-session)
    "multimodal_wav_stats",
    "multimodal_ppm_stats",
    "stream_ivf_ingest",
    "stream_dedup_ingest",
    # -- sampling / mixture / corpus pipeline
    "sample_stratified",
    "corpus_shuffle",
    "mixture_weights",
    "repetition_stats",
    "hybrid_search_rrf",
    "quality_filter_quantile",
    "token_length_histogram",
    # -- ANN variants + quantization siblings + storage formats
    "radius_search",
    "ivf_search_filtered",
    "topk_binary_rescore",
    "sq8_search",
    "orc_roundtrip",
    "tfidf_top_terms",
    "orders_above_customer_avg",
    "latency_quantiles_counting",
    "search_quality_i8",
    "topk_matryoshka",
    "corpus_snapshot_diff",
    "vocab_typo_pairs",
    "user_retention_cohorts",
    "ivf_search_after_delete",
    "ivf_compact_stats",
    "mixture_weights_temperature",
    "schema_evolution_read",
    "knn_self_join",
    "ivf_cluster_balance",
    "bpe_learn_merges",
    "bpe_encode_stats",
    "events_anomaly_topk",
    "substring_dup_spans",
    "user_value_ewma",
    "multimodal_neardup",
    "filter_funnel",
    "source_overlap",
    "dedup_keep_longest",
    "stream_heavy_hitters",
    "embedding_dim_stats",
    "corpus_report",
    "minhash_estimator_error",
    "quantize_error_by_dim",
    "ivf_nprobe_autotune",
    "lang_id_confusion",
    "neardup_rate_by_source",
    "user_activity_skew",
    "ivf_probe_cost",
    "rankers_agreement",
)


def _reorder_registry_r5() -> None:
    missing = [n for n in GATE_BASKET_R5 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R5 names unknown entries: {missing}")
    prior = set(GATE_BASKET_R3) | set(GATE_BASKET_R4)
    overlap = set(GATE_BASKET_R5) & prior
    if overlap:
        raise RuntimeError(f"GATE_BASKET_R5 repeats verdicted entries: {overlap}")
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R5}
    # rotation queue: the remaining never-gated entries keep relative
    # order just after the window (GATE_BASKET_R6 = positions 51-100)
    ordered.update(
        (n, e) for n, e in REGISTRY.items() if n not in ordered and n not in prior
    )
    # entries with official driver rows park at the tail
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r5()


# --- Round-6 rotation (r5 VERDICT item 1) -----------------------------
# GATE_BASKET_R6 = positions 51-100 of the r5 order: the next 50
# never-officially-gated entries (continuation-session additions:
# observability, analytics-graph, analytics-ops, stats-wave singles).
# All 50 were judge-replayed green in the round-5 verdict session and
# match the COVERAGE.md preview verbatim (rotation 3 of 4).  After this
# reorder, positions 51-70 are the final 20 never-gated entries
# (GATE_BASKET_R7_NEVER_GATED below), closing the record in r7.
GATE_BASKET_R6: tuple[str, ...] = (
    "pack_efficiency",
    "bloom_join_prune",
    "zorder_skipping",
    "lm_perplexity_filter",
    "hard_negative_mining",
    "pmi_collocations",
    "quality_signal_corr",
    "orders_cube",
    "sliding_distinct_users",
    "label_centroid_quality",
    "incremental_stats_merge",
    "dq_validation_suite",
    "neardup_graph_stats",
    "knn_pagerank",
    "event_pattern_match",
    "corpus_diversity_entropy",
    "lsh_operating_point",
    "user_value_twa",
    "lsh_multiprobe_search",
    "value_drift_ks",
    "chunk_words_udtf",
    "revenue_pareto",
    "cluster_topics",
    "weighted_sample_docs",
    "diverse_topk_docs",
    "corpus_history_scd2",
    "prefix_filter_join",
    "event_type_trend",
    "max_concurrent_sessions",
    "event_assoc_rules",
    "persistent_heavy_hitters",
    "federated_format_audit",
    "dow_seasonality",
    "event_markov_transitions",
    "range_partition_plan",
    "churn_training_set",
    "trimmed_mean_value",
    "link_negative_samples",
    "vocab_drift_js",
    "error_rate_control_chart",
    "customer_rfm_segments",
    "user_budget_clamp",
    "benford_price_audit",
    "ab_test_conversion",
    "km_survival_curve",
    "customer_ltv_cohorts",
    "price_index_laspeyres",
    "locf_imputation",
    "event_top_paths",
    "attribution_model_compare",
)

# r7 plan, pinned now so the final rotation is mechanical (r5 VERDICT
# item 7): the last 20 never-gated entries, followed by 30 re-gate
# slots spent on the oldest official rows (the r2/r3-era verdicts) —
# the re-gate list lives in GATE_BASKET_R7_REGATES.
GATE_BASKET_R7_NEVER_GATED: tuple[str, ...] = (
    "bm25_score_explain",
    "stream_late_drop",
    "gdpr_erasure_audit",
    "ann_cost_frontier",
    "revenue_gini",
    "simpson_paradox_audit",
    "holt_forecast_daily",
    "order_count_dispersion",
    "event_entropy_rate",
    "error_purchase_xcorr",
    "volume_cusum_chart",
    "vocab_growth_heaps",
    "price_dispersion_by_part",
    "mixture_waterfill",
    "source_lang_independence",
    "containment_pairs",
    "doc_novelty_share",
    "fanout_tail_amplification",
    "zipf_slope",
    "doc_skyline",
)

# The two O31 graph-ANN entries, registered this round (r6 VERDICT
# item 1: the last SURVEY §2 operator without an official driver
# CORRECTNESS row) and swapped into the r7 window in place of two
# re-gate slots (topk_f16 / topk_l2 — O5/O7 quantized variants of the
# same score-dispatch path as topk_dot/topk_i8, which stay in the
# basket, so every §2 line keeps a fresh representative).
GATE_BASKET_R7_GRAPH_ANN: tuple[str, ...] = (
    "graph_ann_recall",
    "graph_ann_sharded",
)

# The 30 r7 re-gate slots (r5 VERDICT item 7), chosen by a deterministic
# priority rule over the oldest official rows (all CORRECTNESS_r03-era;
# every r2 row was superseded in r3):
#   1. distinct_users_sketch — the one entry whose r4 official row was
#      the declared rows-only check; its r5 rework (exact count + in-plan
#      estimator bound) has never held a fully hash-green driver row.
#   2. the 9 round-1 failures — a regression here would be the most
#      damaging to the record.
#   3. the SURVEY §2 operator representatives — keeps every §2 line's
#      official evidence fresh after three rounds of refactors.
#   4. fill from GATE_BASKET_R3 order: stream_event_counts (whose r5
#      perf rework — tmpfs checkpoints, no-data-microbatch skip —
#      deserves a fresh correctness row).
GATE_BASKET_R7_REGATES: tuple[str, ...] = (
    "distinct_users_sketch",
    "pricing_summary",
    "top_revenue_customers",
    "events_running_window",
    "events_sessionize",
    "events_asof_purchase",
    "events_range_join",
    "events_salted_agg",
    "latency_percentiles",
    "embedding_neardup_lsh",
    "slice_first_n",
    "quant_error_stats",
    "topk_dot",
    "topk_i8",
    "topk_multi_twophase",
    "gt_build",
    "recall_i8_vs_f32",
    "scan_cost_model",
    "sample_queries",
    "quantize_i8",
    "sanity_stats",
    "ivf_search",
    "pq_adc_search",
    "opq_learned_refine_search",
    "ivfpq_refine_search",
    "refine_i8",
    "csv_chunks_embed",
    "stream_event_counts",
)

# The full r7 gate window (50 = 20 never-gated + 2 graph-ANN
# registrations + 28 re-gates).  The r5-pinned plan had 30 re-gates;
# the r6 VERDICT (item 1) directed swapping two slots for the O31
# entries so the operator gets its official CORRECTNESS row this
# round rather than r8.
GATE_BASKET_R7: tuple[str, ...] = (
    GATE_BASKET_R7_NEVER_GATED + GATE_BASKET_R7_GRAPH_ANN + GATE_BASKET_R7_REGATES
)


def _reorder_registry_r6() -> None:
    missing = [n for n in GATE_BASKET_R6 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R6 names unknown entries: {missing}")
    prior = set(GATE_BASKET_R3) | set(GATE_BASKET_R4) | set(GATE_BASKET_R5)
    overlap = set(GATE_BASKET_R6) & prior
    if overlap:
        raise RuntimeError(f"GATE_BASKET_R6 repeats verdicted entries: {overlap}")
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R6}
    # rotation queue: the final 20 never-gated entries queue right after
    # the window (GATE_BASKET_R7_NEVER_GATED = positions 51-70 next round)
    ordered.update(
        (n, e) for n, e in REGISTRY.items() if n not in ordered and n not in prior
    )
    # entries with official driver rows park at the tail
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r6()


# --- Round-7 rotation (r5 VERDICT item 7 / r6 VERDICT items 1+4) ------
# The final rotation: the 20 last never-gated entries, the 2 newly
# registered O31 graph-ANN entries, then 28 re-gate slots refreshing
# the oldest official rows.  After this round every registry entry
# holds an official driver CORRECTNESS row (222/222) and the growth
# freeze (tests/test_gate_basket.py) lifts.
def _reorder_registry_r7() -> None:
    missing = [n for n in GATE_BASKET_R7 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R7 names unknown entries: {missing}")
    if len(GATE_BASKET_R7) != 50:
        raise RuntimeError(
            f"GATE_BASKET_R7 must be exactly 50 entries, got {len(GATE_BASKET_R7)}"
        )
    never_gated = set(GATE_BASKET_R7_NEVER_GATED) | set(GATE_BASKET_R7_GRAPH_ANN)
    prior = (
        set(GATE_BASKET_R3)
        | set(GATE_BASKET_R4)
        | set(GATE_BASKET_R5)
        | set(GATE_BASKET_R6)
    )
    overlap = never_gated & prior
    if overlap:
        raise RuntimeError(f"GATE_BASKET_R7 repeats verdicted entries: {overlap}")
    not_regates = set(GATE_BASKET_R7_REGATES) - prior
    if not_regates:
        raise RuntimeError(
            f"GATE_BASKET_R7_REGATES must re-gate official rows only: {not_regates}"
        )
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R7}
    # everything else already holds an official driver row: park at the
    # tail in existing relative order
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r7()


# --- Round-8+ standing rotation (r7 VERDICT item 1) -------------------
# The r3-r7 rotation reached its designed endpoint: 222/222 entries
# hold an official driver CORRECTNESS row.  From r8 on, the gate window
# follows one STANDING rule instead of per-round curation:
#
#   new registrations first (in registration order), then fill the
#   50-entry window with re-gates of the entries whose official rows
#   are OLDEST (ties broken by position within that round's basket).
#
# This keeps every official row bounded-stale (~4 rounds at the current
# registry size) while guaranteeing no entry ever ships ungated: a new
# entry's first driver row lands the same round it registers.

_BASKET_HISTORY: tuple[tuple[int, tuple[str, ...]], ...] = (
    (3, GATE_BASKET_R3),
    (4, GATE_BASKET_R4),
    (5, GATE_BASKET_R5),
    (6, GATE_BASKET_R6),
    (7, GATE_BASKET_R7),
)


def official_rounds() -> dict[str, int]:
    """Latest official driver round per entry (the driver gates the
    top-50 window each round; later rounds supersede earlier rows)."""
    out: dict[str, int] = {}
    for rnd, basket in _BASKET_HISTORY:
        for n in basket:
            out[n] = rnd
    return out


def stale_regate_order(before_round: int | None = None) -> list[str]:
    """The standing re-gate priority: every officially-gated entry,
    ordered by oldest latest-official round, ties broken by basket
    position within that round — fully deterministic, so the window is
    mechanical and tests/test_gate_basket.py can pin it.

    ``before_round`` replays the order as of a PAST window: only
    baskets from rounds < before_round count as official, so each
    historical window's regate list stays test-pinnable after later
    rounds append to _BASKET_HISTORY."""
    history = [
        (rnd, basket)
        for rnd, basket in _BASKET_HISTORY
        if before_round is None or rnd < before_round
    ]
    rounds: dict[str, int] = {}
    for rnd, basket in history:
        for n in basket:
            rounds[n] = rnd
    keyed = []
    for rnd, basket in history:
        for pos, name in enumerate(basket):
            if rounds[name] == rnd:
                keyed.append((rnd, pos, name))
    keyed.sort()
    return [name for _, _, name in keyed]


# r8 registrations, in registration order: the two r7-queued entries
# (r7 VERDICT item 1), the compaction round-trip witness (item 5), and
# the capability wave (item 6: cross-run dedup state, semantic dedup).
GATE_BASKET_R8_NEW: tuple[str, ...] = (
    "multimodal_png_stats",
    "compact_stats",
    "dedup_state_merge",
    "semantic_dedup",
    "compact_roundtrip_agg",
)

# 45 re-gate slots by the standing rule: the 23 remaining r3-era rows
# (incl. topk_f16 / topk_l2 — r7 VERDICT item 7), then the oldest 22
# r4-era rows in r4 basket order.
GATE_BASKET_R8_REGATES: tuple[str, ...] = tuple(
    stale_regate_order()[: 50 - len(GATE_BASKET_R8_NEW)]
)

GATE_BASKET_R8: tuple[str, ...] = GATE_BASKET_R8_NEW + GATE_BASKET_R8_REGATES


def _reorder_registry_r8() -> None:
    missing = [n for n in GATE_BASKET_R8 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R8 names unknown entries: {missing}")
    if len(GATE_BASKET_R8) != 50 or len(set(GATE_BASKET_R8)) != 50:
        raise RuntimeError(
            f"GATE_BASKET_R8 must be exactly 50 distinct entries, "
            f"got {len(GATE_BASKET_R8)}"
        )
    gated = set(official_rounds())
    fresh = set(GATE_BASKET_R8_NEW)
    if fresh & gated:
        raise RuntimeError(
            f"GATE_BASKET_R8_NEW repeats verdicted entries: {fresh & gated}"
        )
    not_regates = set(GATE_BASKET_R8_REGATES) - gated
    if not_regates:
        raise RuntimeError(
            f"GATE_BASKET_R8_REGATES must re-gate official rows only: {not_regates}"
        )
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R8}
    # everything else already holds an official driver row: park at the
    # tail in existing relative order
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r8()

# CORRECTNESS_r08 went 50/50 green, so the r8 basket enters the
# official history — stale_regate_order() now serves the entries r8
# left oldest (the 27 remaining r4-era rows, then the oldest r5 rows).
_BASKET_HISTORY = _BASKET_HISTORY + ((8, GATE_BASKET_R8),)


# r9 registrations, in registration order (r8 VERDICT items 2, 5, 6):
# the SPANN boundary-replication witness, the band-state retirement
# half of the cross-run dedup lifecycle, the quality-bucketed mixture
# reweighting composition, and the baseline-JPEG codec witness (item 6
# decided by implementing the codec).
GATE_BASKET_R9_NEW: tuple[str, ...] = (
    "graph_ann_replicated",
    "dedup_state_compact",
    "mixture_quality_reweight",
    "multimodal_jpeg_stats",
)

# 46 re-gate slots by the standing rule.
GATE_BASKET_R9_REGATES: tuple[str, ...] = tuple(
    stale_regate_order()[: 50 - len(GATE_BASKET_R9_NEW)]
)

GATE_BASKET_R9: tuple[str, ...] = GATE_BASKET_R9_NEW + GATE_BASKET_R9_REGATES


def _reorder_registry_r9() -> None:
    missing = [n for n in GATE_BASKET_R9 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R9 names unknown entries: {missing}")
    if len(GATE_BASKET_R9) != 50 or len(set(GATE_BASKET_R9)) != 50:
        raise RuntimeError(
            f"GATE_BASKET_R9 must be exactly 50 distinct entries, "
            f"got {len(GATE_BASKET_R9)}"
        )
    gated = set(official_rounds())
    fresh = set(GATE_BASKET_R9_NEW)
    if fresh & gated:
        raise RuntimeError(
            f"GATE_BASKET_R9_NEW repeats verdicted entries: {fresh & gated}"
        )
    not_regates = set(GATE_BASKET_R9_REGATES) - gated
    if not_regates:
        raise RuntimeError(
            f"GATE_BASKET_R9_REGATES must re-gate official rows only: {not_regates}"
        )
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R9}
    # everything else already holds an official driver row: park at the
    # tail in existing relative order
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r9()

# CORRECTNESS_r09 went 50/50 green, so the r9 basket enters the
# official history — stale_regate_order() now serves the entries r9
# left oldest (the 31 remaining r5-era rows, then the oldest r6 rows).
_BASKET_HISTORY = _BASKET_HISTORY + ((9, GATE_BASKET_R9),)


# r10 registrations, in registration order (r9 VERDICT items 2 + 7):
# the adaptive re-probe witness (exact-termination identity + budgeted
# not-below-static) and the MPEG-1 Layer III frame-header walk that
# closes the compressed-codec family at the container-structure level.
GATE_BASKET_R10_NEW: tuple[str, ...] = (
    "graph_ann_adaptive_probe",
    "multimodal_mp3_stats",
)

# 48 re-gate slots by the standing rule.
GATE_BASKET_R10_REGATES: tuple[str, ...] = tuple(
    stale_regate_order()[: 50 - len(GATE_BASKET_R10_NEW)]
)

GATE_BASKET_R10: tuple[str, ...] = GATE_BASKET_R10_NEW + GATE_BASKET_R10_REGATES


def _reorder_registry_r10() -> None:
    missing = [n for n in GATE_BASKET_R10 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R10 names unknown entries: {missing}")
    if len(GATE_BASKET_R10) != 50 or len(set(GATE_BASKET_R10)) != 50:
        raise RuntimeError(
            f"GATE_BASKET_R10 must be exactly 50 distinct entries, "
            f"got {len(GATE_BASKET_R10)}"
        )
    gated = set(official_rounds())
    fresh = set(GATE_BASKET_R10_NEW)
    if fresh & gated:
        raise RuntimeError(
            f"GATE_BASKET_R10_NEW repeats verdicted entries: {fresh & gated}"
        )
    not_regates = set(GATE_BASKET_R10_REGATES) - gated
    if not_regates:
        raise RuntimeError(
            f"GATE_BASKET_R10_REGATES must re-gate official rows only: {not_regates}"
        )
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R10}
    # everything else already holds an official driver row: park at the
    # tail in existing relative order
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r10()

# CORRECTNESS_r10 went 50/50 green, so the r10 basket enters the
# official history — stale_regate_order() now serves the entries r10
# left oldest (the remaining r6-era rows, then the oldest r7 rows).
_BASKET_HISTORY = _BASKET_HISTORY + ((10, GATE_BASKET_R10),)


# r11 registrations, in registration order: the two LSH observability
# entries that witness the r11 exactly-once banded-kernel rebuild
# (r10 VERDICT items 1-2) — the bucket-occupancy regime check and the
# first-shared-band emission profile whose oracle independently
# defines the emission rule the kernels implement in-stream.
GATE_BASKET_R11_NEW: tuple[str, ...] = (
    "minhash_band_occupancy",
    "neardup_first_band_profile",
)

# 48 re-gate slots by the standing rule.
GATE_BASKET_R11_REGATES: tuple[str, ...] = tuple(
    stale_regate_order()[: 50 - len(GATE_BASKET_R11_NEW)]
)

GATE_BASKET_R11: tuple[str, ...] = GATE_BASKET_R11_NEW + GATE_BASKET_R11_REGATES


def _reorder_registry_r11() -> None:
    missing = [n for n in GATE_BASKET_R11 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R11 names unknown entries: {missing}")
    if len(GATE_BASKET_R11) != 50 or len(set(GATE_BASKET_R11)) != 50:
        raise RuntimeError(
            f"GATE_BASKET_R11 must be exactly 50 distinct entries, "
            f"got {len(GATE_BASKET_R11)}"
        )
    gated = set(official_rounds())
    fresh = set(GATE_BASKET_R11_NEW)
    if fresh & gated:
        raise RuntimeError(
            f"GATE_BASKET_R11_NEW repeats verdicted entries: {fresh & gated}"
        )
    not_regates = set(GATE_BASKET_R11_REGATES) - gated
    if not_regates:
        raise RuntimeError(
            f"GATE_BASKET_R11_REGATES must re-gate official rows only: {not_regates}"
        )
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R11}
    # everything else already holds an official driver row: park at the
    # tail in existing relative order
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r11()


# CORRECTNESS_r11 went 50/50 green, so the r11 basket enters the
# official history — stale_regate_order() now serves the entries r11
# left oldest (the remaining r7-era rows first).
_BASKET_HISTORY = _BASKET_HISTORY + ((11, GATE_BASKET_R11),)


# r12 registrations, in registration order: the two witnesses of the
# r12 builds — the raw integer layer of the vectorized scoring profile
# (corpus_clean's quality/lang stage since r12) and the density-
# adaptive MinHash dispatch decision row (r11 VERDICT item 2).
GATE_BASKET_R12_NEW: tuple[str, ...] = (
    "token_profile_counts",
    "minhash_dispatch_decision",
)

# 48 re-gate slots by the standing rule.
GATE_BASKET_R12_REGATES: tuple[str, ...] = tuple(
    stale_regate_order()[: 50 - len(GATE_BASKET_R12_NEW)]
)

GATE_BASKET_R12: tuple[str, ...] = GATE_BASKET_R12_NEW + GATE_BASKET_R12_REGATES


def _reorder_registry_r12() -> None:
    missing = [n for n in GATE_BASKET_R12 if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"GATE_BASKET_R12 names unknown entries: {missing}")
    if len(GATE_BASKET_R12) != 50 or len(set(GATE_BASKET_R12)) != 50:
        raise RuntimeError(
            f"GATE_BASKET_R12 must be exactly 50 distinct entries, "
            f"got {len(GATE_BASKET_R12)}"
        )
    gated = set(official_rounds())
    fresh = set(GATE_BASKET_R12_NEW)
    if fresh & gated:
        raise RuntimeError(
            f"GATE_BASKET_R12_NEW repeats verdicted entries: {fresh & gated}"
        )
    not_regates = set(GATE_BASKET_R12_REGATES) - gated
    if not_regates:
        raise RuntimeError(
            f"GATE_BASKET_R12_REGATES must re-gate official rows only: {not_regates}"
        )
    ordered = {n: REGISTRY[n] for n in GATE_BASKET_R12}
    # everything else already holds an official driver row: park at the
    # tail in existing relative order
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry_r12()
