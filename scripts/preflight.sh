#!/usr/bin/env bash
# End-of-round preflight: the full evidence chain the round-2 verdict
# asked for (both round-2 regressions were visible in one test run /
# one sweep that was never executed before the snapshot).
#
#   1. sbt test                  — full ScalaTest suite
#   2. perfbench sbt test        — the benchmark compiles against the
#                                  checkout's sources; its specs pin that
#   3. graft.Verify @ sf0.01     — correctness dump
#   4. local_verify.py           — DuckDB oracle compare (the correctness gate)
#   5. graft.Bench  @ sf0.1      — timings; "failed":[] required
#
# Usage: scripts/preflight.sh [sf001dir] [sf01dir]
set -uo pipefail
cd "$(dirname "$0")/.."
SF001="${1:-/root/testdata/sf0.01}"
SF01="${2:-/root/testdata/sf0.1}"
OUT=/tmp/preflight_verify
FAIL=0

echo "== 1/5 sbt test"
TESTLOG=$(sbt -batch test 2>&1)
echo "$TESTLOG" | grep -E "Total number of tests|Tests: succeeded" | tail -2
echo "$TESTLOG" | grep -q "All tests passed." || { echo "PREFLIGHT: sbt test RED"; FAIL=1; }

echo "== 2/5 perfbench sbt test"
PBLOG=$(cd perfbench && sbt -batch test 2>&1)
PBRC=$?
echo "$PBLOG" | grep -E "Tests: succeeded" | tail -1
[ "$PBRC" -eq 0 ] || { echo "PREFLIGHT: perfbench sbt test RED"; FAIL=1; }

echo "== 3/5 graft.Verify @ ${SF001}"
rm -rf "$OUT"
VLOG=$(sbt -batch "runMain graft.Verify ${SF001} ${OUT}" 2>&1)
VRC=$?
# both failure modes: per-query failures print "[verify]"; a crash
# outside the per-query try exits nonzero WITHOUT printing it (and
# local_verify would then green-light the partial dump)
if echo "$VLOG" | grep "\[verify\]"; then
  echo "PREFLIGHT: Verify had per-query failures"; FAIL=1
fi
if [ "$VRC" -ne 0 ]; then
  echo "PREFLIGHT: Verify exited $VRC (possibly partial dump)"; FAIL=1
fi

echo "== 4/5 DuckDB oracle compare"
CMP=$(python3 -u scripts/local_verify.py "$OUT" "$SF001")
echo "$CMP" | tail -2
echo "$CMP" | grep -q ", 0 fail" || { echo "PREFLIGHT: oracle compare RED"; FAIL=1; }

echo "== 5/5 graft.Bench @ ${SF01}"
BJ=$(SPARK_GRAFT_SF_DIR="$SF01" SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | head -1 | sed 's/^\[info\] //')
echo "$BJ" | python3 -c 'import json,sys; d=json.load(sys.stdin); print("total %.1fs failed %s" % (d["value"], d["failed"])); sys.exit(1 if d["failed"] else 0)' || { echo "PREFLIGHT: bench had failed queries"; FAIL=1; }

if [ "$FAIL" -eq 0 ]; then echo "PREFLIGHT: ALL GREEN"; else echo "PREFLIGHT: RED (see above)"; fi
exit "$FAIL"
