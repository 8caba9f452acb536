"""Scale-path mechanisms: AQE skew-join splits, bucketed tables,
approximate quantiles, generic as-of join — the knobs that matter at 100 TB,
checked for result-equivalence against their exact/plain forms."""

from pyspark.sql import functions as F


def test_bucketed_join_has_no_shuffle(tmp_path, spark, sf_dir):
    """bucketBy co-locates both sides on the join key: the join plan
    must contain NO Exchange (shuffle) between scan and join."""
    from immoeliza_pipeline_spark.sources.readers import load_table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").saveAsTable("b_orders"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").saveAsTable("b_lineitem"))
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_approx_quantiles_near_exact(spark, sf_dir):
    from immoeliza_pipeline_spark.operators.outliers import quantiles_row
    from immoeliza_pipeline_spark.sources.readers import load_table
    orders = load_table(spark, sf_dir, "orders")
    exact = quantiles_row(orders, {"o_totalprice": [0.05, 0.95]}, exact=True).first()
    approx = quantiles_row(orders, {"o_totalprice": [0.05, 0.95]}, exact=False).first()
    for c in ("o_totalprice__p0_05", "o_totalprice__p0_95"):
        rel = abs(approx[c] - exact[c]) / max(abs(exact[c]), 1e-9)
        assert rel < 0.01, f"{c}: approx {approx[c]} vs exact {exact[c]}"


def test_approx_count_distinct_near_exact(spark, sf_dir):
    """The HLL sketch path (100 TB distinct counts) must stay within
    its advertised error of the exact count."""
    from immoeliza_pipeline_spark.sources.readers import load_table
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx")).first()
    assert abs(row.approx - row.exact) / max(row.exact, 1) < 0.1


def test_asof_join_ties_and_inclusive_bound(spark):
    """asof_join, which the registry's asof_last_event_before_order
    runs: two events share (key, t) and an order sits exactly at t,
    so with tiebreak="event_id" the order gets the larger event_id
    (right.t <= left.t). An event one microsecond after an order never
    matches, and an order before every event of its key gets NULL.
    Every pick equals a brute-force max over (t, event_id)."""
    from immoeliza_pipeline_spark.operators.window_ops import asof_join
    ev_rows = [(1, 100, 9), (1, 100, 7), (1, 101, 11), (2, 50, 3)]
    order_rows = [(1, 100, 1000), (1, 99, 1001), (2, 50, 1002),
                  (2, 49, 1003), (3, 100, 1004)]
    ev = spark.createDataFrame(ev_rows, "key long, t long, event_id long")
    orders = spark.createDataFrame(order_rows,
                                   "key long, t long, o_orderkey long")
    got = {r.o_orderkey: r.event_id_asof for r in asof_join(
        orders, ev, "key", "t", ("event_id",), tiebreak="event_id").collect()}
    assert got == {1000: 9, 1001: None, 1002: 3, 1003: None, 1004: None}
    brute = {o: max(((t, e) for k2, t, e in ev_rows if k2 == k and t <= ot),
                    default=(None, None))[1]
             for k, ot, o in order_rows}
    assert got == brute


def test_global_rank_cumsum_matches_global_window(spark):
    """The distributed-exact ranking (range partitions + prefix
    offsets) must agree with a plain single-partition global window
    on every row — exercised with enough rows to span many range
    partitions."""
    from pyspark.sql import Window

    from immoeliza_pipeline_spark.operators.ranking import global_rank_cumsum
    df = (spark.range(10_000)
          .select(F.col("id"),
                  (F.pmod(F.hash("id"), F.lit(97))).alias("v")))
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {r.id: (r.rank, r.cum_value)
           for r in global_rank_cumsum(df, order, "v", num_partitions=16).collect()}
    w = Window.orderBy(*order)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp = {r.id: (r.rank, r.cum_value)
           for r in df.select("id", F.row_number().over(w).alias("rank"),
                              F.sum("v").over(w_cum).alias("cum_value")).collect()}
    assert got == exp


def test_lsh_auto_band_width_ladder_and_parity(spark, sf_dir):
    """auto_rows_per_band picks exactly the widths the r9 scale laps
    tuned by hand (r=3 at ≤4k vectors, 6 at 20k, 8 at 200k), never
    floats across a boundary, and the auto path returns the identical
    pair set as the manual width it resolves to."""
    from immoeliza_pipeline_spark.operators.similarity import (
        auto_rows_per_band, near_dup_pairs_bucketed)
    from immoeliza_pipeline_spark.sources.readers import load_table

    for n, want in [(0, 3), (500, 3), (4096, 3), (4097, 4),
                    (20000, 6), (32768, 6), (200000, 8), (10**9, 8)]:
        assert auto_rows_per_band(n) == want, n

    emb = load_table(spark, sf_dir, "embeddings")
    r = auto_rows_per_band(emb.count())
    auto = {(p.id1, p.id2) for p in near_dup_pairs_bucketed(
        emb, "vec_id", "embedding", dim=64, bands=5).collect()}
    manual = {(p.id1, p.id2) for p in near_dup_pairs_bucketed(
        emb, "vec_id", "embedding", dim=64, bands=5,
        rows_per_band=r).collect()}
    assert auto == manual


def test_ivf_seed_modulus_sqrt_scaling():
    """Seed count k tracks √n (sub-quadratic assignment by
    construction): doubling n four-fold roughly doubles k, and the
    modulus never exceeds n."""
    import math

    from immoeliza_pipeline_spark.plans.similarity import _ivf_seed_modulus
    for n in (500, 2000, 20000, 200000):
        m = _ivf_seed_modulus(n)
        k = len(range(0, n, m))
        assert 0 < m <= n
        # k within a factor 2 of ceil(sqrt(n)/4)
        target = math.ceil(math.sqrt(n) / 4)
        assert target / 2 <= k <= 2 * target + 1, (n, k, target)


def test_kmeans_inertia_decreases(spark, sf_dir):
    """Lloyd's rounds must not increase inertia (mean squared distance
    to the assigned centroid) — hash-parity with the oracle proves
    reproducibility, this gates that the trainer actually TRAINS."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.operators.similarity import kmeans_iterations
    from immoeliza_pipeline_spark.plans.similarity import _ivf_seed_modulus
    from immoeliza_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    m = _ivf_seed_modulus(emb.count())

    def inertia(n_iter: int) -> float:
        out = kmeans_iterations(emb, "vec_id", "embedding",
                                seed_modulus=m, n_iter=n_iter)
        return out.agg(F.avg("sq_dist")).collect()[0][0]

    i0, i1, i2 = inertia(0), inertia(1), inertia(2)
    assert i1 <= i0 + 1e-9
    assert i2 <= i1 + 1e-9
    assert i2 < i0  # strictly better than the raw seed cells


def test_kmeans_sampled_training_covers_full_corpus(spark, sf_dir):
    """The md5-sampled Lloyd rounds (the linear-scale training path)
    must still ASSIGN every corpus vector in the final pass, and must
    still train (inertia strictly below the raw seed cells). At the
    graded SFs the auto threshold is 65536 (no sampling), so this
    forces threshold = 32768 (~half the corpus) to exercise the
    sampled path the 10x/100x laps rely on."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.operators.similarity import (
        kmeans_iterations, md5_bucket16)
    from immoeliza_pipeline_spark.plans.similarity import _ivf_seed_modulus
    from immoeliza_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    m = _ivf_seed_modulus(n)
    n_sample = emb.filter(md5_bucket16(F.col("vec_id")) < 32768).count()
    assert 0 < n_sample < n  # the forced threshold really samples

    out = kmeans_iterations(emb, "vec_id", "embedding", seed_modulus=m,
                            n_iter=2, sample_threshold=32768)
    assert out.count() == n  # final assignment covers the FULL corpus
    assert out.select("vid").distinct().count() == n

    seed_inertia = (kmeans_iterations(emb, "vec_id", "embedding",
                                      seed_modulus=m, n_iter=0)
                    .agg(F.avg("sq_dist")).collect()[0][0])
    sampled_inertia = out.agg(F.avg("sq_dist")).collect()[0][0]
    assert sampled_inertia < seed_inertia  # sampled training still trains
