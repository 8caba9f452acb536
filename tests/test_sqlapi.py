"""SQL-API queries vs DuckDB at sf0.001."""

import pytest

from immoeliza_pipeline_spark.plans import sqlapi
from tests.test_analytic import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(sqlapi.QUERIES))
def test_sqlapi_query(spark, sf_dir, name):
    fn, sql = sqlapi.QUERIES[name]
    sdf = fn(spark, sf_dir)
    if sql is None:
        assert sdf.count() >= 0
    else:
        assert_matches_oracle(sdf, sql, sf_dir)


def test_spark_runs_the_oracle_string(monkeypatch):
    """Each SQL-API query hands spark.sql exactly its oracle text, so
    the Spark side and the DuckDB oracle cannot drift apart."""
    monkeypatch.setattr(sqlapi, "register_views", lambda spark, sf_dir: None)

    class Recorder:
        def sql(self, text):
            return text

    for name, (fn, sql) in sqlapi.QUERIES.items():
        assert fn.__name__ == name
        assert fn(Recorder(), "unused") is sql, name
