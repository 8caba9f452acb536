"""Geo + ML queries vs DuckDB at sf0.001, plus pyspark.ml pipelines."""

import pytest

from immoeliza_pipeline_spark.plans import geo, mlq
from tests.test_analytic import assert_matches_oracle

ALL = [("geo", n) for n in sorted(geo.QUERIES)] + \
      [("mlq", n) for n in sorted(mlq.QUERIES)]
MODS = {"geo": geo, "mlq": mlq}


@pytest.mark.parametrize("mod,name", ALL)
def test_query(spark, sf_dir, mod, name):
    fn, sql = MODS[mod].QUERIES[name]
    sdf = fn(spark, sf_dir)
    if sql is None:
        assert sdf.count() >= 0
    else:
        assert_matches_oracle(sdf, sql, sf_dir)


def test_linear_pipeline_fits(spark, sf_dir):
    from immoeliza_pipeline_spark.ml import pipelines as P
    from immoeliza_pipeline_spark.sources.readers import load_table
    li = load_table(spark, sf_dir, "lineitem")
    train = li.filter("l_orderkey % 5 != 0")
    test = li.filter("l_orderkey % 5 = 0")
    feats = ["l_quantity", "l_discount", "l_tax"]
    model = P.fit_linear_pipeline(train, feats, "l_extendedprice")
    metrics = P.evaluate(model, test, "l_extendedprice")
    assert metrics["rmse"] > 0
    assert -1.0 <= metrics["r2"] <= 1.0


def test_grid_search_picks_best(spark, sf_dir):
    from immoeliza_pipeline_spark.ml import pipelines as P
    from immoeliza_pipeline_spark.sources.readers import load_table
    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    train = li.filter("l_orderkey % 5 != 0")
    test = li.filter("l_orderkey % 5 = 0")
    best = P.grid_search_linear(train, test, ["l_quantity", "l_discount", "l_tax"],
                                "l_extendedprice", reg_params=(0.0, 1.0, 10.0))
    assert best["reg_param"] in (0.0, 1.0, 10.0)
    assert best["rmse"] > 0
    # the one-pass grid scorer and evaluate are the same scoring path
    assert best["rmse"] == P.evaluate(best["model"], test, "l_extendedprice")["rmse"]


def test_gbt_pipeline_fits_and_roundtrips(tmp_path, spark, sf_dir):
    from pyspark.ml import PipelineModel

    from immoeliza_pipeline_spark.ml import pipelines as P
    from immoeliza_pipeline_spark.sources.readers import load_table
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    train = li.filter("l_orderkey % 5 != 0")
    test = li.filter("l_orderkey % 5 = 0")
    model = P.fit_gbt_pipeline(train, ["l_quantity", "l_discount"],
                               "l_extendedprice", max_iter=5, max_depth=3)
    metrics = P.evaluate(model, test, "l_extendedprice")
    assert metrics["rmse"] > 0
    path = str(tmp_path / "gbt_v1")
    P.save_model(model, path)
    loaded = PipelineModel.load(path)
    assert loaded.transform(test).columns


def test_randomized_search_is_reproducible(spark, sf_dir):
    """Same seed → same md5-ranked candidate set → same best model.
    Candidates span all three families (the ranking decides which
    n_iter of them actually get fit)."""
    from immoeliza_pipeline_spark.ml import pipelines as P
    from immoeliza_pipeline_spark.sources.readers import load_table
    li = load_table(spark, sf_dir, "lineitem").limit(800)
    kwargs = dict(feature_cols=["l_quantity"], target="l_extendedprice",
                  id_col="l_orderkey", n_iter=2, k=2, seed=7)
    a = P.randomized_search(li, **kwargs)
    b = P.randomized_search(li, **kwargs)
    assert (a["family"], a["params"]) == (b["family"], b["params"])
    assert a["cv_rmse"] == pytest.approx(b["cv_rmse"], rel=1e-9)
    # a different seed explores a different (still deterministic) set
    ranked7 = sorted(P._lattice_candidates(("linear", "rf", "gbt")),
                     key=lambda c: P._rank_key(7, c[0], c[1]))[:2]
    ranked8 = sorted(P._lattice_candidates(("linear", "rf", "gbt")),
                     key=lambda c: P._rank_key(8, c[0], c[1]))[:2]
    assert ranked7 != ranked8


def test_randomized_search_releases_fold_cache_on_error(spark, sf_dir, monkeypatch,
                                                       persisted_rdds):
    from immoeliza_pipeline_spark.ml import pipelines as P
    from immoeliza_pipeline_spark.sources.readers import load_table
    li = load_table(spark, sf_dir, "lineitem").limit(200)
    before = persisted_rdds()

    def boom(train, *args, **kwargs):
        train.count()  # fills the fold cache
        raise RuntimeError("fit failed")

    monkeypatch.setitem(P._FITTERS, "linear", boom)
    with pytest.raises(RuntimeError, match="fit failed"):
        P.randomized_search(li, ["l_quantity"], "l_extendedprice", "l_orderkey",
                            n_iter=1, k=2, families=("linear",))
    assert persisted_rdds() - before == set()


def test_model_save_roundtrip(tmp_path, spark, sf_dir):
    from pyspark.ml import PipelineModel

    from immoeliza_pipeline_spark.ml import pipelines as P
    from immoeliza_pipeline_spark.sources.readers import load_table
    li = load_table(spark, sf_dir, "lineitem").limit(500)
    model = P.fit_linear_pipeline(li, ["l_quantity"], "l_extendedprice")
    path = str(tmp_path / "model_v1")
    P.save_model(model, path)
    loaded = PipelineModel.load(path)
    assert loaded.transform(li).columns  # usable after reload


# Hostile inputs for the moment-based fits: NULL pairs, and an x offset
# of 1e6 that cancels every digit a raw power-sum formula like
# n·Σxx − (Σx)² could keep.
NULL_PAIRS = [(1.0, 2.0), (2.0, 4.1), (3.0, None), (4.0, 8.2), (None, 5.0)]
OFFSET_ROWS = [(i / 8 + 1e6, 3 * (i / 8 + 1e6) + 1000 + ((7919 * i) % 17 - 8) / 4)
               for i in range(20_000)]


def _duck_query(ddl, rows, sql):
    """Rows of DuckDB ``sql`` over ``rows`` loaded as table t."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({ddl})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    return con.sql(sql).fetchall()


def _duck_ols(rows):
    return _duck_query("x DOUBLE, y DOUBLE", rows,
                       "SELECT regr_slope(y, x), regr_intercept(y, x), regr_r2(y, x) FROM t")[0]


def _exact_ols(rows):
    from fractions import Fraction
    xs = [Fraction(x) for x, _ in rows]
    ys = [Fraction(y) for _, y in rows]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
             / sum((x - mx) ** 2 for x in xs))
    return float(slope), float(my - slope * mx)


@pytest.mark.parametrize("rows,reference,rel_tol", [
    (NULL_PAIRS, _duck_ols, (1e-12, 1e-12, 1e-12)),
    (OFFSET_ROWS, _exact_ols, (1e-10, 1e-8)),
], ids=["null_pairs_vs_duckdb", "offset_1e6_vs_exact"])
def test_fit_ols_hostile(spark, rows, reference, rel_tol):
    from immoeliza_pipeline_spark.ml import regression as R
    df = spark.createDataFrame(rows, "x double, y double")
    got = R.fit_ols(df, "x", "y").first()
    for g, want, tol in zip(got, reference(rows), rel_tol):
        assert g == pytest.approx(want, rel=tol, abs=0)


def test_kfold_cv_ols_offset_matches_direct_fit(spark):
    """Each fold's leave-fold-out model, derived from per-fold moments,
    scores as the train set fitted directly (DuckDB regr_*) does."""
    from immoeliza_pipeline_spark.ml import regression as R
    rows = [(i % 6, x, y) for i, (x, y) in enumerate(OFFSET_ROWS)]
    want = dict(_duck_query("fold INT, x DOUBLE, y DOUBLE", rows, """
        WITH p AS (
          SELECT f.fold, regr_slope(t.y, t.x) AS slope, regr_intercept(t.y, t.x) AS icpt
          FROM (SELECT DISTINCT fold FROM t) f JOIN t ON t.fold <> f.fold
          GROUP BY f.fold)
        SELECT t.fold, sqrt(avg(pow(t.y - (p.slope * t.x + p.icpt), 2)))
        FROM t JOIN p ON t.fold = p.fold GROUP BY t.fold"""))
    df = spark.createDataFrame(rows, "fold int, x double, y double")
    got = {r["fold"]: r["rmse"] for r in R.kfold_cv_ols(df, "x", "y", "fold").collect()}
    assert set(got) == set(want)
    for fold, rmse in want.items():
        assert got[fold] == pytest.approx(rmse, rel=1e-8, abs=0)


@pytest.mark.parametrize("value,skew", [
    ("(id % 7) + 1e6", 0.001),  # offset: a power-sum formula says -96.176
    ("0.1", None),              # constant: no spread, skewness undefined
], ids=["offset_1e6", "constant"])
def test_iqr_profile_skewness_hostile(spark, value, skew):
    from immoeliza_pipeline_spark.operators import outliers
    df = spark.range(1000).selectExpr(f"CAST({value} AS DOUBLE) AS v")
    row = outliers.iqr_outlier_profile(df, ["v"]).first()
    assert row["skewness"] == skew
