"""Layer spans and Spark event-log counters for the traced run.

The benchmark wraps the public functions of each package layer (it
never edits package code): every call opens a span and tags the Spark
jobs it starts with the span's job group. After the run, per-job
counters from the session's uncompressed event log are joined to the
spans by job group. Jobs started on another thread under a foreign
group (Structured Streaming micro-batches) are attributed to the
innermost span open on the driver at their submission time.

A layer's self time is the time its spans cover minus the part their
child spans cover.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime

PKG = "immoeliza_pipeline_spark"

# layer -> module, and the functions to wrap (None: every public
# function defined in the module).
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "sources.readers": (f"{PKG}.sources.readers",
                        ("load_table", "load_tables", "read_csv")),
    "operators.cleaning": (f"{PKG}.operators.cleaning", None),
    "operators.impute": (f"{PKG}.operators.impute", None),
    "operators.encode": (f"{PKG}.operators.encode", None),
    "operators.outliers": (f"{PKG}.operators.outliers", None),
    "operators.window_ops": (f"{PKG}.operators.window_ops", None),
    "operators.ranking": (f"{PKG}.operators.ranking", None),
    "operators.geo": (f"{PKG}.operators.geo", None),
    "operators.dedup": (f"{PKG}.operators.dedup", (
        "jaccard_pairs", "jaccard_pairs_against_index", "lsh_candidates",
        "simhash_near_dup_pairs", "connected_components",
        "dedup_paragraphs")),
    "operators.similarity": (f"{PKG}.operators.similarity", (
        "kmeans_iterations", "ivf_kmeans_topk", "ivf_topk", "ann_lsh_topk",
        "near_dup_pairs_bucketed")),
    "ml.regression": (f"{PKG}.ml.regression", None),
    "ml.pipelines": (f"{PKG}.ml.pipelines", (
        "grid_search_linear", "fit_linear_pipeline", "evaluate",
        "save_model")),
    "streaming.events": (f"{PKG}.streaming.events",
                         ("read_event_stream", "process_all")),
    "plans.pipeline": (f"{PKG}.plans.pipeline", ("write_versioned",)),
}
BASIC = ("calls", "self_s", "jobs")
GROUP_PREFIX = "bench-span-"
PIPELINE_STAGES = ("ingest", "preprocess", "model", "model_ml", "publish",
                   "write_versioned")


def metric_names() -> list[str]:
    """Every per-layer metric the traced run emits, in order."""
    names = ["session.start_s",
             "sources.readers.calls", "sources.readers.self_s",
             "sources.readers.input_mb", "sources.readers.read_amp"]
    for layer in LAYERS:
        if layer in ("sources.readers", "plans.pipeline"):
            continue
        names += [f"{layer}.{c}" for c in BASIC]
        names += {"operators.dedup": ["operators.dedup.shuffle_write_mb",
                                      "operators.dedup.spill_mb",
                                      "operators.dedup.cc_jobs"],
                  "operators.similarity":
                      ["operators.similarity.shuffle_write_mb"],
                  "ml.pipelines": ["ml.pipelines.jobs_per_fit"],
                  "streaming.events": ["streaming.events.batches"]
                  }.get(layer, [])
    names += [f"plans.pipeline.{s}.self_s" for s in PIPELINE_STAGES]
    names += ["plans.pipeline.jobs", "plans.pipeline.write_mb",
              "plans.pipeline.write_amp"]
    names += [f"plans.action.{c}" for c in (
        "self_s", "jobs", "stages", "tasks", "task_cpu_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "busy_frac")]
    names += ["trace.run_s", "trace.untraced_run_s", "trace.overhead_s"]
    return names


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    run: int
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans while ``enabled``; ``run`` is the current lap."""
    sc: object
    enabled: bool = False
    run: int = -1
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    loaded: dict[int, set[str]] = field(default_factory=dict)

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}",
                                f"{span.layer}:{span.name}")

    def open(self, layer: str, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), layer, name, parent, self.run,
                    time.time())
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        if name == "load_table":
            table = args[2] if len(args) > 2 else kwargs["name"]
            self.loaded.setdefault(self.run, set()).add(table)
        span = self.open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def wrap(self, layer: str, fn, name: str | None = None):
        label = name or fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(layer, label, fn, *args, **kwargs)
        return traced

    def install(self) -> None:
        """Wrap every layer function in its module and in every package
        namespace that imported it by name."""
        importlib.import_module(f"{PKG}.harness").all_queries()  # load plans
        wrapped = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, val in list(vars(mod).items()):
                if (inspect.isfunction(val) and not attr.startswith("_")
                        and val.__module__ == modname
                        and (names is None or attr in names)):
                    wrapped[id(val)] = self.wrap(layer, val)
        for modname, mod in list(sys.modules.items()):
            if modname.startswith(PKG) and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if id(val) in wrapped:
                        setattr(mod, attr, wrapped[id(val)])

    def dump(self, path: str, jobs: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "jobs": jobs}, f)


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> tuple[dict[int, dict], list[float]]:
    """Per-job counters and streaming micro-batch times from the
    (single) uncompressed event log."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    batches: list[float] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "submit": ev["Submission Time"] / 1000.0,
                             "stages": set(), "tasks": 0, "run_ms": 0,
                             "cpu_ns": 0, "shuffle_read": 0,
                             "shuffle_write": 0, "spill": 0, "input": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                stamp = ev["progress"]["timestamp"].replace("Z", "+00:00")
                batches.append(datetime.fromisoformat(stamp).timestamp())
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or jid not in jobs or not m:
                    continue
                j = jobs[jid]
                j["stages"].add(ev["Stage ID"])
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                j["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                j["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                j["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                j["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for j in jobs.values():
        j["stages"] = len(j["stages"])
    return jobs, batches


def attribute_jobs(spans: list[Span], jobs: dict[int, dict]) -> None:
    """Set ``span`` on each job: its group's span, else the innermost
    span open at its submission time (None outside every span)."""
    by_group = {f"{GROUP_PREFIX}{s.id}": s.id for s in spans}
    for j in jobs.values():
        sid = by_group.get(j["group"])
        if sid is None:
            best = None
            for s in spans:
                if s.start <= j["submit"] <= s.end and (
                        best is None or s.start >= best.start):
                    best = s
            sid = best.id if best else None
        j["span"] = sid


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = max(0.0, (s.end - s.start) - covered)
    return out


def lap_metrics(spans: list[Span], jobs: dict[int, dict],
                batches: list[float], run: int, cores: int,
                table_bytes: dict[str, int], loaded_tables: set[str],
                write_bytes: int, input_bytes: int) -> dict[str, float]:
    """Per-layer counters of one traced lap."""
    mb = 1 / (1 << 20)
    lap = [s for s in spans if s.run == run]
    ids = {s.id for s in lap}
    by_id = {s.id: s for s in lap}
    selfs = self_times(lap)
    lap_jobs = [j for j in jobs.values() if j["span"] in ids]

    def under(s: Span, name: str) -> bool:
        while s is not None:
            if s.name == name:
                return True
            s = by_id.get(s.parent)
        return False

    m: dict[str, float] = {}
    layers = set(LAYERS) | {"plans.action"}
    for layer in layers:
        ls = [s for s in lap if s.layer == layer]
        lj = [j for j in lap_jobs if by_id[j["span"]].layer == layer]
        m[f"{layer}.calls"] = len(ls)
        m[f"{layer}.self_s"] = sum(selfs[s.id] for s in ls)
        m[f"{layer}.jobs"] = len(lj)
        m[f"{layer}.stages"] = sum(j["stages"] for j in lj)
        m[f"{layer}.tasks"] = sum(j["tasks"] for j in lj)
        m[f"{layer}.task_cpu_s"] = sum(j["cpu_ns"] for j in lj) / 1e9
        m[f"{layer}.shuffle_read_mb"] = sum(j["shuffle_read"] for j in lj) * mb
        m[f"{layer}.shuffle_write_mb"] = sum(j["shuffle_write"] for j in lj) * mb
        m[f"{layer}.spill_mb"] = sum(j["spill"] for j in lj) * mb
        if layer == "plans.action":
            wall = sum(s.end - s.start for s in ls)
            run_s = sum(j["run_ms"] for j in lj) / 1000.0
            m["plans.action.busy_frac"] = run_s / (wall * cores) if wall else 0.0
    for stage in PIPELINE_STAGES:
        m[f"plans.pipeline.{stage}.self_s"] = sum(
            selfs[s.id] for s in lap
            if s.layer == "plans.pipeline" and s.name == stage)
    m["operators.dedup.cc_jobs"] = sum(
        1 for j in lap_jobs if under(by_id[j["span"]], "connected_components"))
    root = next(s for s in lap if s.layer == "lap")
    m["streaming.events.batches"] = sum(
        1 for b in batches if root.start <= b <= root.end)
    fits = sum(1 for s in lap if s.name == "fit_linear_pipeline")
    m["ml.pipelines.jobs_per_fit"] = (
        m["ml.pipelines.jobs"] / fits if fits else 0.0)
    m["plans.pipeline.write_mb"] = write_bytes * mb
    m["plans.pipeline.write_amp"] = (write_bytes / input_bytes
                                     if input_bytes else 0.0)
    read = sum(j["input"] for j in lap_jobs)
    on_disk = sum(table_bytes[t] for t in loaded_tables if t in table_bytes)
    m["sources.readers.input_mb"] = read * mb
    m["sources.readers.read_amp"] = read / on_disk if on_disk else 0.0
    return m
