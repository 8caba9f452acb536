import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from immoeliza_pipeline_spark.session import get_spark
    s = get_spark(app_name="tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def persisted_rdds(spark):
    """Callable returning the ids of the RDDs Spark holds persisted."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def count_jobs(spark):
    """Callable ``(group, fn) -> (fn(), jobs fn started)``."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
