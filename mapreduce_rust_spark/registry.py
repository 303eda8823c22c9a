"""Central query registry: slug → (spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by ``__spark_entry__.py``
(the driver contract), ``bench.py``, and the self-check tool
(``tools/check_correctness.py``). Slugs follow SURVEY.md §2a for the
reference-parity surface, plus the engine-extension families
(analytics / dedup / similarity / text analysis / multimodal).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _register(queries: dict[str, QueryFn], oracles: dict[str, str]) -> None:
    for name, fn in queries.items():
        if name in _QUERIES:
            raise ValueError(f"duplicate query slug: {name}")
        _QUERIES[name] = fn
    for name, sql in oracles.items():
        if name not in queries:
            raise ValueError(f"oracle for unknown slug: {name}")
        _ORACLES[name] = sql.strip()


# Every family module. None has an optional dependency, so an import
# error propagates: a broken module must fail the registry, not drop
# its slugs from queries() without a word.
_FAMILIES: tuple[str, ...] = (
    "plans.parity",
    "plans.analytics",
    "plans.advanced",
    "plans.tpch",
    "plans.sqlface",
    "plans.timeseries",
    "plans.pipeline",
    "plans.behavior",
    "plans.incremental",
    "operators.dedup",
    "streaming.queries",
    "operators.similarity",
    "operators.text_analysis",
    "operators.cleaning",
    "operators.corpus",
    "operators.multimodal",
    "operators.preference",
    "operators.skew",
    "operators.linkage",
    "operators.graph",
    "operators.profiling",
    "sources.formats",
    "sources.pysource",
)


def _load() -> None:
    if _QUERIES:
        return
    try:
        for name in _FAMILIES:
            mod = importlib.import_module(f"mapreduce_rust_spark.{name}")
            _register(mod.QUERIES, mod.ORACLE)
    except BaseException:
        # never leave a partial registry for the next call to serve
        _QUERIES.clear()
        _ORACLES.clear()
        raise


# The driver's correctness gate value-checks the FIRST 50 entries of
# queries() in insertion order. Slugs listed here are surfaced into
# that window; everything else follows in registration order. The
# window holds the slugs whose plan changed most recently first, then
# slugs that never had an external oracle check, then the oldest ones.
_PRIORITY: tuple[str, ...] = (
    # --- graph slugs that now read the shared LPA labels ---
    "graph_label_propagation",
    "graph_modularity",
    "graph_conductance",
    "graph_clustering_agreement",
    # --- round-10 additions: first driver evidence ---
    "pipeline_prepare_corpus_v2",
    "features_quality_distill",
    "corpus_quality_classifier",
    "pref_bradley_terry",
    "pref_bt_confidence",
    "pref_duel_planner",
    "pref_rank_centrality",
    "pref_elo_batch",
    "pref_position_bias",
    "pref_rater_agreement",
    "pref_fleiss_kappa",
    # --- r11 optimization-touched slugs (plan changed this round) ---
    "pipeline_prepare_corpus",
    "pipeline_gate_attrition",
    "pipeline_gate_overlap",
    "corpus_bm25_retrieval",
    "search_rrf_fusion",
    "text_bigram_perplexity",
    "text_kneser_ney_bigram",
    "features_calibration_curve",
    "features_cohens_kappa",
    "corpus_budget_select",
    "sample_quality_weighted",
    "corpus_quality_calibrated_filter",
    "pipeline_decontaminate",
    "decontaminate_ngram_overlap",
    "text_winnowing_fingerprints",
    # --- oldest-evidence backfill: last windowed round 2 ---
    "text_lang_id",
    "text_fingerprint",
    "sample_hash_deterministic",
    "tfidf_top_terms",
    "inverted_index_postings",
    "multimodal_meta",
    "multimodal_decode_fake",
    "skew_salted_agg",
    "dedup_components",
    "table_profile",
    "table_histogram",
    "format_csv_roundtrip",
    "format_json_roundtrip",
    "format_orc_roundtrip",
    # --- oldest-evidence backfill: last windowed round 3 ---
    "anomaly_zscore",
    "basket_part_pairs",
    "cdc_upsert_apply",
    "complex_types_suite",
    "corpus_shard_pack",
    "corr_matrix",
)

# Slugs queued immediately after the 50-slot window (positions 51+):
# slugs displaced from the window first, then changed slugs that did
# not fit, then the oldest-evidence backfill.
_NEXT_WINDOW: tuple[str, ...] = (
    # --- displaced from the window by the graph slugs above ---
    "customer_rfm",
    "dedup_exact_normalized",
    "dedup_keep_best",
    "dedup_prefix",
    # --- graph slugs on the shared undirected edge list ---
    "graph_pagerank",
    "graph_eigenvector_centrality",
    "graph_node_jaccard",
    "graph_adamic_adar",
    "graph_assortativity",
    # --- oldest-evidence backfill ---
    "dedup_span_exact",
    "embedding_centroids",
    "event_path_analysis",
    "full_outer_join",
    "knn_classify",
    "multimodal_frame_sample",
    "q11_important_parts",
    "q12_priority_lines",
    "q16_supplier_count",
    "q20_promo_suppliers",
    "q2_min_cost_supplier",
    "q4_priority_check",
    "quantile_bins",
    "sample_stratified",
    "session_window_builtin",
    "sink_bucketed_join",
    "sink_partitioned_parquet",
    "sink_sorted_stats_prune",
    "skew_salted_join",
    "skew_top_hot_keys",
    "source_schema_evolution",
    "sql_recursive_cte",
    "streaming_enrich_join",
    "streaming_hopping_counts",
)


def _ordered(d: dict[str, QueryFn | str]) -> dict:
    if d is _QUERIES:
        # a typo here would silently shift the driver's value-checked
        # first-50 window; fail loudly instead (oracle dict is a
        # subset, so only the query dict is checked)
        missing = (set(_PRIORITY) | set(_NEXT_WINDOW)) - set(d)
        if missing:
            raise ValueError(f"_PRIORITY names unknown slugs: {sorted(missing)}")
    head = {k: d[k] for k in (*_PRIORITY, *_NEXT_WINDOW) if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def queries() -> dict[str, QueryFn]:
    _load()
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return _ordered(_ORACLES)
