"""Spark jobs, tasks and wall seconds per registry query, in one process.

Each query runs under its own job group; the jobs the group started
(plan building included, e.g. schema inference) are counted with the
status tracker once the result is collected. Tasks are the tasks those
jobs' stages ran (``numCompletedTasks``, each stage once): a stage a
job skips, because its shuffle output is already written, stays in the
tracker with its ``numTasks`` but runs none. Prints one line per
query and a TOTAL line summing both counts:

    name jobs tasks seconds

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import SF_DIR  # noqa: E402


def main() -> int:
    import __spark_entry__ as ent
    from immoeliza_pipeline_spark.session import get_spark
    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    registry = ent.queries()
    tracker = sc.statusTracker()
    total_jobs, total_tasks, total_s = 0, 0, 0.0
    for name in sys.argv[1:] or sorted(registry):
        sc.setJobGroup(name, name)
        t0 = time.time()
        registry[name](spark, SF_DIR).collect()
        dt = time.time() - t0
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(name)
        stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
        total_jobs, total_tasks = total_jobs + len(jobs), total_tasks + tasks
        total_s += dt
        print(f"{name} {len(jobs)} {tasks} {dt:.2f}", flush=True)
        spark.catalog.clearCache()
    print(f"TOTAL {total_jobs} {total_tasks} {total_s:.1f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
