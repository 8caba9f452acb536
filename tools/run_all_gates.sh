#!/usr/bin/env bash
# One-command reproduction of the full validation surface:
#   tests, the benchmark's smoke check (its correctness checks on
#   small seeded inputs), oracle parity at two scale factors,
#   hostile-timezone parity, and the bench diffed against BASELINE.md.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
# the tier-1 configuration: one Spark core per host CPU, a dedicated
# local dir, no pytest cache in the tree
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}" \
    python -m pytest tests/ -q -p no:cacheprovider

echo "== benchmark smoke =="
python3 perfbench/smoke.py

echo "== oracle sf0.01 =="
python tools/check_oracle.py

echo "== oracle sf0.1 =="
ORACLE_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py

echo "== oracle sf0.01 under non-UTC process TZ =="
TZ=America/New_York python tools/check_oracle.py

echo "== bench vs baseline =="
python bench.py | python tools/bench_compare.py
