#!/usr/bin/env bash
# Round-close dev gate: runs graft.Verify at sf0.01, sweeps every oracle
# query through DuckDB (tools/check_oracle.py), and fails if either side
# blows the wall-time budget the driver's t2 harness implicitly has.
# Round 11 shipped an empty CORRECTNESS artifact because the oracle
# sweep had silently grown to ~625 s; this gate makes that failure mode
# loud and in-session.
#
#   tools/round_gate.sh [sf_dir] [out_dir]
#
# Budgets (override via env): ORACLE_BUDGET_SEC (DuckDB sweep, default
# 180), TOTAL_BUDGET_SEC (Verify + sweep, default 600).
set -uo pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/round_gate_out}
ORACLE_BUDGET=${ORACLE_BUDGET_SEC:-180}
TOTAL_BUDGET=${TOTAL_BUDGET_SEC:-600}
cd "$(dirname "$0")/.."

t0=$(date +%s)
sbt -batch "runMain graft.Verify $SF $OUT" || {
  echo "GATE FAIL: Verify exited non-zero"; exit 1; }
t1=$(date +%s)
python3 tools/check_oracle.py "$SF" "$OUT"
oracle_rc=$?
t2=$(date +%s)

echo "gate: verify_wall=$((t1-t0))s oracle_wall=$((t2-t1))s total=$((t2-t0))s" \
     "(budgets: oracle ${ORACLE_BUDGET}s, total ${TOTAL_BUDGET}s)"
[ -f "$OUT/summary.json" ] && { cat "$OUT/summary.json"; echo; }

fail=0
[ "$oracle_rc" -ne 0 ] && { echo "GATE FAIL: oracle mismatches"; fail=1; }
[ $((t2-t1)) -gt "$ORACLE_BUDGET" ] && {
  echo "GATE FAIL: DuckDB sweep $((t2-t1))s > ${ORACLE_BUDGET}s budget"; fail=1; }
[ $((t2-t0)) -gt "$TOTAL_BUDGET" ] && {
  echo "GATE FAIL: total $((t2-t0))s > ${TOTAL_BUDGET}s budget"; fail=1; }
[ "$fail" -eq 0 ] && echo "GATE PASS"
exit $fail
