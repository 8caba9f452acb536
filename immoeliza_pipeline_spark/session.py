"""SparkSession factory tuned for the engine.

Defaults assume local[N] testing but are chosen so the same plan
shapes survive a 1000-executor cluster: AQE on (runtime coalescing +
skew-join), broadcast threshold generous for dimension tables, UTC
session timezone (oracle comparisons are against UTC-naive DuckDB
timestamps), Arrow enabled for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Runtime conf that plan shape and oracle agreement depend on: get_spark
# builds with it, tune_existing sets it on a session built elsewhere.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # SQL-standard NULL-on-degenerate semantics (x/0, corr of a
    # constant, log of 0) instead of Spark 4's default ANSI
    # exceptions: one empty document must not kill a 100 TB job,
    # and the DuckDB oracle returns NULL for these cases.
    "spark.sql.ansi.enabled": "false",
    # size(NULL) is NULL, as DuckDB's len(NULL), not -1: with ANSI off
    # the legacy -1 would give a NULL doc a token count of -1
    "spark.sql.legacy.sizeOfNull": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # A cached plan's consumers see the partitioning AQE gives the plan
    # uncached (its last shuffle coalesced), so their floating-point
    # sums group as in an uncached run; Spark's default pins a cached
    # plan to one partition per shuffle partition. Read when the cache
    # entry is built.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _default_driver_mem() -> str:
    """Local mode puts the driver AND every executor thread in ONE
    JVM, so the heap must be sized to the box: 8g was measured failing
    a 500k-row broadcast build at the 100× scale probe while multi-GB
    shingle frames sat in storage memory (on a real cluster those live
    in separate executor heaps). Default = a quarter of physical
    memory, clamped to [2g, 32g] — a hard-coded 32g would turn into a
    kernel OOM kill on any host smaller than the 128 GiB test box."""
    try:
        phys_gb = (os.sysconf("SC_PHYS_PAGES")
                   * os.sysconf("SC_PAGE_SIZE")) // (1 << 30)
    except (ValueError, OSError, AttributeError):
        phys_gb = 8
    return f"{max(2, min(32, phys_gb // 4))}g"


def get_spark(app_name: str = "immoeliza-pipeline-spark",
              cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned conf;
    shuffle partitions = cpus."""
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(map=_RUNTIME_CONF)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # Generated classes are cached per (class loader, source), in a
        # Guava cache whose capacity is split over 4 segments picked by
        # hash. With Spark's 100 entries, one weekly-DAG run's ~80
        # classes can overflow a 25-entry segment in some JVMs (the
        # class loader's identity hash differs per process) and then
        # recompile ~20 classes every run. A larger cache keeps a
        # repeated workload's classes compiled once per JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # PySpark wraps every Column call to record the caller's file
        # and line in the JVM: about five py4j round trips per call,
        # which on small tables is a large share of a query's driver
        # time. Off, an AnalysisException no longer names the Python
        # line of the Column call that failed. Static conf, read once
        # per process by pyspark.errors.utils, so tune_existing cannot
        # set it on a session built elsewhere.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not build.

    The driver harness passes its own SparkSession to ``entry``/
    ``queries``; static conf (master, memory) is out of our hands but
    the settings that matter for plan shape and oracle agreement are
    runtime-settable.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in some deployments; plan still correct
    return spark
