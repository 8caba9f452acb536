"""The benchmark's workloads: inputs, one lap of work, and its checks.

A lap is one closed-loop pass of a single client over the workload's
operations, run one after another from the driver process. Every
operation's result is checked inside the lap; the references the
checks compare against are built beforehand, outside every timer.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb

from datagen import TABLES, Size

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import value_hash  # noqa: E402

SINKS = ("orders_clean", "ols_model", "predictions", "lr_model")
REL_TOL = 1e-6


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


@dataclass
class Lap:
    ops: list[Op]
    seconds: float
    write_bytes: int = 0
    steal: float = 0.0  # share of CPU time the hypervisor took meanwhile


def _run_op(name: str, fn) -> Op:
    """Time ``fn`` (which returns whether its result is correct)."""
    t = time.time()
    try:
        ok = bool(fn())
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        ok = False
    dt = time.time() - t
    if not ok:
        print(f"# FAILED {name}", file=sys.stderr)
    return Op(name, dt, ok)


def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class QueryMix:
    """A fixed list of registry queries, each checked against its
    DuckDB oracle hash (the normalisation of tools/check_oracle)."""

    name = "query_mix"
    size = Size(orders=15_000, documents=500, embeddings=500)
    tables = TABLES
    queries = (
        "drop_rows_conditions",     # operators.cleaning
        "city_radius_assignment",   # operators.geo
        "stream_windowed_counts",   # streaming.events
        "dedup_clusters",           # operators.dedup: jaccard + components
        "kmeans_clusters",          # operators.similarity
    )

    def __init__(self, seed: int):
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)

    def reference(self, data_dir: str) -> dict[str, tuple[int, str]]:
        from immoeliza_pipeline_spark.harness import all_oracles
        oracles = all_oracles()
        con = _duck(data_dir)
        ref = {}
        for q in self.queries:
            rel = con.sql(oracles[q])
            rows = rel.fetchall()
            ref[q] = (len(rows), value_hash(rows, list(rel.columns)))
        return ref

    def lap(self, spark, data_dir: str, ref, action, reclaim,
            out_dir: str) -> Lap:
        from immoeliza_pipeline_spark.harness import all_queries
        registry = all_queries()
        ops = []
        for q in self.order:
            def one(q=q):
                df = registry[q](spark, data_dir)
                rows = action(q, df)
                return (len(rows), value_hash(rows, df.columns)) == ref[q]
            ops.append(_run_op(q, one))
            reclaim()
        return Lap(ops, sum(o.seconds for o in ops))


class WeeklyPipeline:
    """The paper's DAG: ingest -> preprocess -> model / model_ml ->
    publish, into a fresh versioned sink directory per lap."""

    name = "weekly_pipeline"
    size = Size(orders=1_500, documents=10, embeddings=10)
    tables = ("orders",)

    def __init__(self, seed: int):
        self.wrap_stage = None  # set by the traced run

    def reference(self, data_dir: str) -> dict[str, int]:
        con = _duck(data_dir)
        return {"distinct_orders": con.sql(
            "SELECT count(DISTINCT o_orderkey) FROM orders").fetchone()[0]}

    @staticmethod
    def verify(out: str, ref: dict[str, int]) -> bool:
        versions = {}
        for sink in SINKS:
            with open(os.path.join(out, sink, "LATEST")) as f:
                versions[sink] = f.read().strip()
            if not os.path.isdir(os.path.join(out, sink,
                                              f"v={versions[sink]}")):
                print(f"# check failed: {sink}/LATEST", file=sys.stderr)
                return False

        def pq(sink: str) -> str:
            return f"'{os.path.join(out, sink, f'v={versions[sink]}')}/*.parquet'"
        con = duckdb.connect()
        n_clean = con.sql(f"SELECT count(*) FROM {pq('orders_clean')}").fetchone()[0]
        n_pred = con.sql(f"SELECT count(*) FROM {pq('predictions')}").fetchone()[0]
        slope, icpt, x_bar, y_bar = con.sql(
            "SELECT regr_slope(o_totalprice, o_orderpriority_encoded), "
            "regr_intercept(o_totalprice, o_orderpriority_encoded), "
            "avg(o_orderpriority_encoded), avg(o_totalprice) "
            f"FROM {pq('orders_clean')}").fetchone()
        got = con.sql(f"SELECT slope, intercept FROM {pq('ols_model')}").fetchone()
        # 1e-6 relative, the intercept relative to the terms it is the
        # difference of (y_bar - slope * x_bar): when they nearly cancel,
        # a one-pass sufficient-statistics fit keeps fewer digits of
        # the small intercept than of its terms.
        checks = {
            "orders_clean rows": n_clean == ref["distinct_orders"],
            "predictions rows": n_pred == n_clean,
            "ols slope": abs(got[0] - slope) <= REL_TOL * abs(slope),
            "ols intercept": abs(got[1] - icpt) <= REL_TOL * (
                abs(y_bar) + abs(slope * x_bar)),
        }
        for name, ok in checks.items():
            if not ok:
                print(f"# check failed: {name}", file=sys.stderr)
        return all(checks.values())

    def lap(self, spark, data_dir: str, ref, action, reclaim,
            out_dir: str) -> Lap:
        from immoeliza_pipeline_spark.plans.pipeline import immoeliza_pipeline
        shutil.rmtree(out_dir, ignore_errors=True)

        def one():
            dag = immoeliza_pipeline(data_dir, out_dir)
            if self.wrap_stage is not None:
                for stage in dag.stages:
                    stage.fn = self.wrap_stage(stage.name, stage.fn)
            results = dag.run(spark)
            action("publish", results["publish"])
            return self.verify(out_dir, ref)
        op = _run_op(self.name, one)
        written = _du(out_dir) if os.path.isdir(out_dir) else 0
        shutil.rmtree(out_dir, ignore_errors=True)
        reclaim()
        return Lap([op], op.seconds, write_bytes=written)


WORKLOADS = {w.name: w for w in (WeeklyPipeline, QueryMix)}
