"""Spark jobs, tasks, py4j round trips and wall seconds per registry
query, in one process.

Each query runs under its own job group; the jobs the group started
(plan building included, e.g. schema inference) are counted with the
status tracker once the result is collected. Tasks are the tasks those
jobs' stages ran (``numCompletedTasks``, each stage once): a stage a
job skips, because its shuffle output is already written, stays in the
tracker with its ``numTasks`` but runs none. Round trips are the py4j
commands Python sends the JVM while the query builds its plan and
collects. Detach commands are left out: Python's garbage collector
sends one whenever it frees a JVM reference, at arbitrary times, so
with them counted an untouched query's count swings by hundreds
between runs. Prints one line per query and a TOTAL line summing the
counts:

    name jobs tasks round_trips seconds

The first reader of a table in a process pays that table's schema
inference, so a count depends on which queries ran before it: compare
two censuses only between fresh processes that run the same queries in
the same order. Structured Streaming runs its micro-batches on the
stream's own thread, outside the group, so a streaming query counts only
the jobs its driver thread starts.

Usage: python tools/job_census.py [query ...]
(ORACLE_SF_DIR picks the scale directory, SPARK_GRAFT_CPUS the cores.)
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextmanager
def py4j_round_trips(spark) -> Iterator[list[int]]:
    """Count the py4j commands, detach commands (``m``) excluded, that
    this process sends the JVM inside the block: yields a one-element
    list holding the running count."""
    client = spark.sparkContext._gateway._gateway_client
    send, count = client.send_command, [0]

    def counted(command, *args, **kwargs):
        if not command.startswith("m\n"):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        client.send_command = send


def main() -> int:
    import __spark_entry__ as ent
    # here, not at the top: the tests import py4j_round_trips as
    # tools.job_census, with tools/ not on sys.path
    from check_oracle import SF_DIR
    from immoeliza_pipeline_spark.session import get_spark
    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    registry = ent.queries()
    tracker = sc.statusTracker()
    total_jobs, total_tasks, total_trips, total_s = 0, 0, 0, 0.0
    for name in sys.argv[1:] or sorted(registry):
        sc.setJobGroup(name, name)
        t0 = time.time()
        with py4j_round_trips(spark) as trips:
            registry[name](spark, SF_DIR).collect()
        dt = time.time() - t0
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(name)
        stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
        total_jobs, total_tasks = total_jobs + len(jobs), total_tasks + tasks
        total_trips, total_s = total_trips + trips[0], total_s + dt
        print(f"{name} {len(jobs)} {tasks} {trips[0]} {dt:.2f}", flush=True)
        spark.catalog.clearCache()
    print(f"TOTAL {total_jobs} {total_tasks} {total_trips} {total_s:.1f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
