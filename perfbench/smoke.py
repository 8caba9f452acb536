#!/usr/bin/env python3
"""Smoke check of the benchmark on small (sf0.001-sized) seeded inputs.

    python3 perfbench/smoke.py

1. Input generator: two seeds give equal table sizes, equal key
   fan-out histograms and equal near-duplicate pair counts (text
   shingles and embedding cosines), while keys, row order and
   measures differ.
2. Each workload runs once on two seeds (seed 1 untraced, seed 2
   traced). Every run must pass its correctness checks and emit
   exactly the metric names BENCHMARK.json lists.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import subprocess
import sys

import numpy as np

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402

SMOKE_SIZE = datagen.Size(orders=1_500, documents=500, embeddings=500)
SEEDS = (1, 2)
FANOUTS = {"orders": "o_custkey", "lineitem": "l_orderkey",
           "events": "user_id"}


def fanout_histogram(col) -> dict[int, int]:
    per_key = collections.Counter(col.to_pylist())
    return dict(sorted(collections.Counter(per_key.values()).items()))


def text_near_dups(texts: list[str], threshold: float = 0.8) -> int:
    shingles = []
    for t in texts:
        w = t.split()
        shingles.append({tuple(w[i:i + 3]) for i in range(len(w) - 2)})
    return sum(1 for a, b in itertools.combinations(shingles, 2)
               if a and b and len(a & b) / len(a | b) >= threshold)


def vector_near_dups(vectors, threshold: float = 0.3) -> int:
    x = np.asarray(vectors, dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    c = x @ x.T
    return int((np.triu(c, 1) >= threshold).sum())


def check_generator() -> None:
    shape = {}
    for seed in SEEDS:
        t = datagen.seeded_tables(SMOKE_SIZE, seed)
        shape[seed] = {
            "rows": {n: tab.num_rows for n, tab in t.items()},
            "fanout": {n: fanout_histogram(t[n].column(c))
                       for n, c in FANOUTS.items()},
            "text_pairs": text_near_dups(
                t["documents"].column("text").to_pylist()),
            "vector_pairs": vector_near_dups(
                t["embeddings"].column("embedding").to_pylist()),
            "first_order": t["orders"].column("o_orderkey")[0].as_py(),
        }
    a, b = shape[SEEDS[0]], shape[SEEDS[1]]
    for k in ("rows", "fanout", "text_pairs", "vector_pairs"):
        assert a[k] == b[k], f"generator: {k} differs across seeds"
    assert a["text_pairs"] > 0, "generator: no near-duplicate documents"
    assert a["first_order"] != b["first_order"], "generator: seed ignored"
    print(f"generator ok: {a['text_pairs']} text / {a['vector_pairs']} "
          f"vector near-dup pairs on both seeds")


def run_workload(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace), "--orders", str(SMOKE_SIZE.orders)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    check_generator()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {0: {m["name"] for m in spec["end_to_end"]},
                1: {m["name"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for seed, trace in zip(SEEDS, (0, 1)):
            res = run_workload(w["name"], seed, trace)
            got = set(res["metrics"])
            assert got == expected[trace], (
                f"{w['name']}: metrics differ from BENCHMARK.json: "
                f"missing {sorted(expected[trace] - got)}, "
                f"extra {sorted(got - expected[trace])}")
            assert res["correct"] and res["failed"] == 0, (
                f"{w['name']} seed {seed}: {res['failed']} of "
                f"{res['attempted']} operations failed")
            print(f"{w['name']} seed={seed} trace={trace}: "
                  f"{res['attempted']} operations correct, "
                  f"{len(got)} metrics")
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
