#!/usr/bin/env bash
# Run every gate locally, in order: tests → benchmark self-tests →
# correctness (verify + DuckDB oracle self-check) → bench. Exits non-zero on
# the first failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 1/4 sbt test ==="
sbt -batch test

echo "=== 2/4 perfbench self-tests ==="
python3 -m unittest discover -s perfbench/tests

echo "=== 3/4 verify + oracle (sf0.01) ==="
OUT=$(mktemp -d)/verify
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT"
python3 tools/check_oracle.py /root/testdata/sf0.01 "$OUT"

echo "=== 4/4 bench (sf0.1) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench"
