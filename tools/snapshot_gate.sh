#!/usr/bin/env bash
# Round-end snapshot gate (VERDICT r4 "next round" #2): the working tree —
# not just the last commit — must compile, pass the suite, and match the
# DuckDB oracle before a snapshot is allowed. Run from anywhere; exits
# non-zero (and says why) on the first red step, so a failing tree can
# never again silently zero a round's driver verification.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
OUT_DIR="${SPARK_GRAFT_GATE_OUT:-/tmp/snapshot_verify}"

echo "== gate 1/5: compile (main + test) =="
sbt -batch compile Test/compile

echo "== gate 2/5: scalatest suite =="
sbt -batch test

echo "== gate 3/5: Verify + DuckDB oracle at ${SF_DIR} =="
sbt -batch "runMain graft.Verify ${SF_DIR} ${OUT_DIR}"
python3 tools/check_oracle.py "${SF_DIR}" "${OUT_DIR}"

echo "== gate 4/5: COVERAGE.md anchors =="
python3 tools/check_coverage_anchors.py

echo "== gate 5/5: perfbench/ compiles against the working tree =="
# The suite never builds the benchmark harness, so a removed public
# parameter it still passes would otherwise surface only at bench time.
if [ -n "${SPARK_HOME:-}" ]; then
  (cd perfbench && sbt --batch compile)
else
  echo "SPARK_HOME is unset: skipping the perfbench/ compile"
fi

echo "== snapshot gate: ALL GREEN =="
