"""Physical-plan regression guards: the scale properties the engine
relies on (pushdown, broadcasts, no cross products) asserted as
tests, so a future edit that silently degrades a plan fails CI
instead of only showing up in a 100 TB run."""

import pytest

import __spark_entry__ as ent


def _plan(spark, sf_dir, name: str) -> str:
    df = ent.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", [
    "q1_pricing_summary", "q3_top_orders", "q5_local_supplier_volume",
    "ngram_jaccard_pairs", "minhash_lsh_candidates", "simhash_near_dup",
    "embedding_near_dup_bucketed", "benchmark_decontamination",
    "incremental_near_dup", "training_corpus_build", "sequence_pack_plan",
    "vocabulary_build", "tfidf_top_terms", "doc_chunks",
    "bigram_logprob_scores", "kmeans_clusters", "ivf_kmeans_topk",
    "chunk_dedup_rate", "dedup_threshold_sweep",
    "packing_efficiency_report", "quality_funnel_report",
])
def test_no_cross_products(spark, sf_dir, name):
    """No query may plan a CartesianProduct. BroadcastNestedLoopJoin
    is tolerated here ONLY because the engine's sole uses are explicit
    broadcasts of 1-row aggregates (grand totals / fractional caps);
    the join-heavy LSH probes are held to the stricter equi-join
    assertion below."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan[:2000]


def test_q1_scan_is_pruned_and_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [" in plan
    # the scan must not read the full 16-column lineitem schema
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read.count(",") < 9, f"scan reads too many columns: {read}"


def test_q5_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # nation/region/supplier side
    assert "CartesianProduct" not in plan


def test_aqe_splits_planted_skewed_join(spark):
    """SURVEY §4 claims 'AQE skew-join on' — this exercises it: a
    sort-merge join where 90% of the left side lands on ONE key must
    be re-planned at runtime with the skewed partition split
    (SortMergeJoin(skew=true) in the adaptive final plan). Thresholds
    are lowered because the planted frame is tiny; the MECHANISM under
    test (runtime skew detection + partition splitting) is exactly
    what fires at 100 TB with production thresholds."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(200_000).select(
            # 90% of rows pile on key 0; the rest spread
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        right = spark.range(2_000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("rv"))
        # the aggregate must CONSUME pad: skew detection reads
        # compressed map-output sizes, and if column pruning drops the
        # high-entropy payload the skewed partition (180k identical
        # 8-byte keys) compresses below any realistic threshold
        joined = left.join(right, "k").agg(F.sum(F.length("pad")).alias("n"))
        joined.collect()  # AQE decides skew at RUNTIME — must execute
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_near_dup_probes_are_equi_joins(spark, sf_dir):
    """The LSH probes must join on band equality (hash join), never
    an all-pairs product."""
    for name in ("embedding_near_dup_bucketed", "simhash_near_dup",
                 "minhash_lsh_candidates", "incremental_near_dup",
                 "chunk_dedup_rate"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan), name
        # candidate generation must be hash/merge equi-joins; a
        # nested-loop join over the data frames means an equi
        # condition was lost (the only allowed NLJs broadcast 1-row
        # cap/total aggregates, which these probes do not use except
        # incremental_near_dup's fractional cap)
        if name != "incremental_near_dup":
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_llm_build_keeps_signal_barrier(spark, sf_dir):
    """llm_corpus_build's quality gate MUST sit on a persisted signal
    frame: without the InMemoryRelation barrier, predicate pushdown
    re-inlines the staged redact+tokenize chain into word_shingles'
    per-gram lambda (no CSE there) and the gate goes O(tokens²) per
    row — one filter measured 76s at sf0.1. This guards the barrier
    against a well-meaning 'remove the persist' cleanup."""
    plan = _plan(spark, sf_dir, "llm_corpus_build")
    assert "InMemoryTableScan" in plan, plan[:2000]


def test_llm_build_semantic_keeps_signal_barrier(spark, sf_dir):
    """The semantic composition (embedding edges unioned into the
    dedup stage) must not cost the persist barrier: the gated frame
    now ALSO feeds the embeddings semi-join, which is one more
    consumer that pushdown would re-inline the redact+tokenize chain
    into. Same InMemoryTableScan guard; plus the semantic edge join
    must stay an equi-join (no cartesian candidate generation)."""
    plan = _plan(spark, sf_dir, "llm_corpus_build_semantic")
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_sessionize_reads_micros_once(spark, sf_dir):
    """sessionize_events derives epoch micros once and sessionize
    orders by that column: the optimized plan holds one unix_micros
    and one lag window (a gap expression read twice used to plan
    two lag windows, and sessionize re-derived the micros itself)."""
    df = ent.queries()["sessionize_events"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("unix_micros(") == 1, plan
    assert plan.count("lag(") == 1, plan
