#!/usr/bin/env bash
# ONE-COMMAND VERIFICATION ENTRY (round-4 VERDICT item 4).
#
# Runs every correctness and plan-shape gate the repo has, in the
# order that fails fastest:
#   1. full pytest suite (939 tests incl. plan gates, property tests,
#      streaming batch/stream parity, adversarial regressions; ~15 min)
#   2. full-registry (188-query) parity sweep vs the DuckDB oracles at
#      sf0.01 — the same comparison the grading driver runs (~10 min)
#   3. adversarial-fixture parity sweep (generates the slice under
#      /tmp, then the same full-registry differential over it; ~8 min)
#   4. odd-conf parity sweep: the sf0.01 differential again on 5 cores,
#      7 shuffle partitions and AQE off (tools/parity.py --oddconf)
#   5. bench smoke: one run of the reference-parity core at sf0.01 to
#      prove the bench harness itself is healthy (~1 min)
#
# Expected wall time ~25-30 min on local[32]. Usage:
#   tools/verify.sh [sf_dir]        # default /root/testdata/sf0.01
# Committed clean-run log: tools/verify_r5.log
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"

echo "== [0/5] regenerate COVERAGE.md (freshness gate feeds on it) =="
python tools/gen_coverage.py

echo "== [1/5] pytest =="
python -m pytest tests/ -q

echo "== [2/5] oracle parity sweep (${SF_DIR}) =="
python tools/parity.py "$SF_DIR"

echo "== [3/5] adversarial oracle parity sweep =="
ADV_DIR="${ADV_DIR:-/tmp/advfix_verify}"
python tools/gen_adversarial.py "$ADV_DIR"
python tools/parity.py "$ADV_DIR"

echo "== [4/5] odd-conf oracle parity sweep (${SF_DIR}) =="
python tools/parity.py --oddconf "$SF_DIR"

echo "== [5/5] bench smoke (parity core at sf0.01) =="
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_SMOKE=1 python bench.py

echo "VERIFY: ALL GATES GREEN"
