"""Aggregates every query module's QUERIES dict into the single
registry __spark_entry__ exposes to the driver.

Each module defines ``QUERIES: dict[name, (spark_fn, oracle_sql|None)]``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    # Plain imports on purpose: a broken module must fail LOUD here,
    # not silently shrink the registry the driver grades against.
    from immoeliza_pipeline_spark.plans import (
        analytic, corpus, dedup, geo, mlq, multimodal, prep, similarity,
        sqlapi, streamq, text)
    return [analytic, sqlapi, prep, dedup, text, similarity, geo, mlq,
            streamq, multimodal, corpus]


# The driver grades the FIRST `GRADED_WINDOW` registry entries.
# Registry order is therefore coverage policy: every SURVEY §2
# subsection keeps representatives inside the window, and the
# redundant TPC-H shapes occupy the deep tail.
GRADED_WINDOW = 50

# The names that open the registry, in this order: the queries whose
# driver grade is most due come first, then one group per SURVEY §2
# subsection. Everything else follows in module order; all of it stays
# covered by tools/check_oracle.py, which runs every registry entry.
PRIORITY_FIRST = [
    # due for re-grading
    "llm_corpus_build_semantic", "llm_corpus_build",
    "training_corpus_build", "dedup_threshold_sweep", "dedup_clusters",
    "ngram_jaccard_pairs", "benchmark_decontamination",
    "benchmark_decontamination_fixed", "incremental_near_dup",
    "kmeans_clusters", "ivf_kmeans_topk", "ivf_topk_neighbors",
    "paragraph_dedup", "doc_fingerprints",
    # §2.1 analytic/SQL-API
    "q1_pricing_summary", "q14_promo_revenue",
    "q16_supplier_part_counts", "q17_small_quantity_revenue",
    "q19_disjunctive_predicates", "sessionize_events",
    "conversion_funnel", "table_profile", "quantile_clip_prices",
    "bucket_by_range",
    # §2.2 cleaning/prep/ML
    "combine_categories", "correlation_feature_selection",
    "dedup_exact_keep_first", "export_column_remap", "impute_median",
    "iqr_outlier_profile", "kfold_cv_ols", "ols_price_vs_quantity",
    "registry_merge_status",
    # §2.3 ingest/geo/multimodal
    "geocode_cache_join", "city_radius_assignment",
    "multimodal_metadata",
    # §2.4 dedup/similarity
    "minhash_lsh_candidates", "simhash_near_dup",
    # §2.5 text/corpus
    "chunk_dedup_rate", "doc_chunks", "doc_quality_scores",
    "lang_id_heuristic", "packing_efficiency_report",
    "quality_funnel_report", "tfidf_top_terms", "token_counts",
    # §2.7 streaming
    "stream_attribution_join", "stream_enriched_counts",
    "stream_sessionization", "stream_windowed_counts",
]

# Exactly the window: a 51st name here would silently fall outside
# the graded set this list exists to fill.
assert len(PRIORITY_FIRST) <= GRADED_WINDOW, (
    f"PRIORITY_FIRST has {len(PRIORITY_FIRST)} names; only the first "
    f"{GRADED_WINDOW} registry entries are driver-graded — trim it")


def _ordered_items():
    items: dict[str, tuple] = {}
    for mod in _modules():
        for name, pair in mod.QUERIES.items():
            items[name] = pair
    missing = [n for n in PRIORITY_FIRST if n not in items]
    if missing:  # a renamed query must fail LOUD, not fall out of the window
        raise KeyError(f"PRIORITY_FIRST names not in registry: {missing}")
    ordered = [(n, items[n]) for n in PRIORITY_FIRST]
    ordered += [(n, p) for n, p in items.items() if n not in set(PRIORITY_FIRST)]
    return ordered


def _pinned(fn: Callable) -> Callable:
    """Pin runtime conf the oracle comparison depends on (UTC session
    timezone — DuckDB timestamps are UTC-naive) regardless of how the
    caller built its SparkSession, and make each query self-contained
    storage-wise: several operators persist intermediate frames
    (shingle tables, banded LSH frames) that their lazily-returned
    plan depends on, so they cannot unpersist before materialization.
    Clearing the cache HERE — at the next query's entry — is the
    documented unpersist boundary that keeps executor storage bounded
    across a 50-query harness session (queries never share cached
    plans across registry entries, so this costs nothing)."""
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from immoeliza_pipeline_spark.session import tune_existing
        tune_existing(spark)
        spark.catalog.clearCache()
        return fn(spark, sf_dir)
    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _pinned(fn) for name, (fn, _sql) in _ordered_items()}


def all_oracles() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _ordered_items()
            if sql is not None}
