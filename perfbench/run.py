#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload weekly_pipeline --seed 1 \
        --seconds 10 --trace 0

A run generates the workload's seeded parquet inputs under
``.bench_work/``, builds the correctness references with DuckDB, starts
a Spark session with the engine's own factory at ``local[nproc]``, runs
one cold lap and warm-up laps (together: set-up), then measures warm
laps for ``--seconds``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PKG = "immoeliza_pipeline_spark"
WARM_LAPS = 1
QUIESCE_S = 0.1         # pause after each post-operation GC, outside timers
STEAL_MAX = 0.05        # laps with more hypervisor CPU steal are not timed
MAX_MEASURE = 3         # measure at most this many times --seconds


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--orders", type=int, default=None,
                   help="override the workload's input size (smoke runs)")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write under ``work``; returns
    the event-log directory."""
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(work, "eventlog")
    for d in (tmp, logs, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + logs,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    # -XX:-UsePerfData: the JVM writes no hsperfdata file under /tmp.
    args += ["--driver-java-options",
             f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)
    return logs


def peak_rss(pid: int) -> int:
    """Peak resident set of a process since it started (bytes)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (it exits when
    its stdin pipe closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def cpu_steal_ticks() -> int:
    """Host CPU time stolen from this machine (clock ticks, all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def timed(laps: list) -> list:
    """The laps that timings are taken from: those during which the
    hypervisor stole at most ``STEAL_MAX`` of the CPU time (another
    tenant's load, not the program's), or all laps if none qualifies.
    Every lap still counts for correctness."""
    return [lap for lap in laps if lap.steal <= STEAL_MAX] or laps


def nearest_rank(samples: list[float], q: float) -> float:
    """The ``q`` quantile of ``samples`` by the nearest-rank method."""
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH, ROOT]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    log_dir = configure_env(work, bool(args.trace))
    os.chdir(work)
    result = run(WORKLOADS[args.workload](args.seed), args, work, log_dir)
    print(json.dumps(result))
    return 0


def run(wl, args, work: str, log_dir: str) -> dict:
    import datagen

    # Inputs and references: outside every timer and outside setup_s.
    t_prep = time.time()
    size = wl.size if args.orders is None else datagen.Size(
        args.orders, wl.size.documents, wl.size.embeddings)
    data_dir = os.path.join(work, "data")
    tables = datagen.seeded_tables(size, args.seed)
    table_bytes = datagen.write_tables(tables, data_dir)
    input_rows = sum(tables[t].num_rows for t in wl.tables)
    ref = wl.reference(data_dir)
    prep_s = time.time() - t_prep

    from immoeliza_pipeline_spark.session import get_spark
    cores = nproc()
    t = time.time()
    spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cores)
    session_s = time.time() - t
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")

        tracer = None
        if args.trace:
            import layertrace as tr
            tracer = tr.Tracer(sc)
            tracer.install()
            wl.wrap_stage = lambda name, fn: tracer.wrap("plans.pipeline", fn, name)

        def action(name, df):
            if tracer is None:
                return df.collect()
            return tracer.call("plans.action", name, df.collect)

        def reclaim():
            # Local mode keeps dead shuffle files until the driver GCs their
            # RDDs; the cleaner works asynchronously, so let it drain.
            sc._jvm.System.gc()
            time.sleep(QUIESCE_S)

        out_dir = os.path.join(work, "sink")
        # One cold lap, then warm-up laps (JIT and codegen settle).
        laps = [wl.lap(spark, data_dir, ref, action, reclaim, out_dir)
                for _ in range(1 + WARM_LAPS)]
        setup_s = time.time() - T_PROCESS - prep_s

        jvm_pid = sc._jvm.ProcessHandle.current().pid()

        def measure(traced: bool) -> list:
            """Warm laps until ``args.seconds`` have passed and one lap is
            timed (see ``timed``), or ``MAX_MEASURE`` times that; spans
            on when ``traced``."""
            done, t0 = [], time.time()
            while True:
                if traced:
                    tracer.enabled, tracer.run = True, len(done)
                    root = tracer.open("lap", f"lap{len(done)}")
                steal0, t_lap = cpu_steal_ticks(), time.time()
                lap = wl.lap(spark, data_dir, ref, action, reclaim, out_dir)
                lap.steal = ((cpu_steal_ticks() - steal0)
                             / os.sysconf("SC_CLK_TCK")
                             / ((time.time() - t_lap) * os.cpu_count()))
                if traced:
                    tracer.close(root)
                    tracer.enabled = False
                done.append(lap)
                elapsed = time.time() - t0
                clean = any(d.steal <= STEAL_MAX for d in done)
                if ((elapsed >= args.seconds and clean)
                        or elapsed >= MAX_MEASURE * args.seconds):
                    return done

        # The traced run measures untraced laps first, for the overhead.
        untraced = measure(False) if tracer is not None else []
        measured = measure(tracer is not None)
        rss_peak = peak_rss(jvm_pid)
    finally:
        stop_spark(spark)

    ops = [o for lap in laps + untraced + measured for o in lap.ops]
    failed = sum(not o.ok for o in ops)
    run_s = statistics.median(lap.seconds for lap in timed(measured))
    latencies = [o.seconds for lap in timed(measured) for o in lap.ops]
    result = {"correct": failed == 0, "attempted": len(ops),
              "failed": failed}
    if not args.trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": run_s, "unit": "s"},
            "input_rows_per_s": {"value": input_rows / run_s, "unit": "rows/s"},
            "query_p50_s": {"value": statistics.median(latencies), "unit": "s"},
            "query_p80_s": {"value": nearest_rank(latencies, 0.8),
                                "unit": "s"},
            "peak_rss_mb": {"value": rss_peak / (1 << 20), "unit": "MB"},
        }
    else:
        result["metrics"] = traced_metrics(
            tracer, measured, log_dir, work, cores, table_bytes, wl,
            session_s, run_s,
            statistics.median(lap.seconds for lap in timed(untraced)))
    print(f"# {wl.name} seed={args.seed} prep_s={prep_s:.2f} "
          f"setup_s={setup_s:.2f} "
          f"session_s={session_s:.2f} cold_s={laps[0].seconds:.2f} "
          f"warm={[round(lap.seconds, 2) for lap in laps[1:]]} "
          f"untraced={[round(lap.seconds, 2) for lap in untraced]} "
          f"laps={[(round(lap.seconds, 2), f'{lap.steal:.1%}') for lap in measured]}",
          file=sys.stderr)
    return result


def traced_metrics(tracer, measured, log_dir, work, cores, table_bytes, wl,
                   session_s, run_s, untraced_s) -> dict:
    import layertrace as tr
    jobs, batches = tr.read_event_log(log_dir)
    tr.attribute_jobs(tracer.spans, jobs)
    tracer.dump(os.path.join(work, "trace.json"), jobs)
    input_bytes = sum(table_bytes[t] for t in wl.tables)
    per_lap = [tr.lap_metrics(tracer.spans, jobs, batches, i, cores,
                              table_bytes,
                              tracer.loaded.get(i, set()), lap.write_bytes,
                              input_bytes)
               for i, lap in enumerate(measured)
               if any(lap is t for t in timed(measured))]
    units = {"_s": "s", "_mb": "MB", "amp": "ratio", "frac": "ratio"}
    out = {}
    for name in tr.metric_names():
        if name == "session.start_s":
            v = session_s
        elif name == "trace.run_s":
            v = run_s
        elif name == "trace.untraced_run_s":
            v = untraced_s
        elif name == "trace.overhead_s":
            v = run_s - untraced_s
        else:
            v = statistics.median(m[name] for m in per_lap)
        unit = next((u for suf, u in units.items() if name.endswith(suf)),
                    "count")
        out[name] = {"value": v, "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
