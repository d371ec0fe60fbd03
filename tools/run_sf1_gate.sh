#!/usr/bin/env bash
# One-command sf1 correctness gate (VERDICT r13 #5): builds the sf1
# scale dir if missing, runs the full registry through graft.Verify,
# then oracle-checks every query in DuckDB with the knobs the r13 run
# proved out (threads/memory caps + a big-disk temp dir — the sf1
# DuckDB pass spills; /tmp fills otherwise). Produces a
# CORRECTNESS-equivalent log at benchdata/SF1_GATE.log (gitignored).
#
# Usage:  tools/run_sf1_gate.sh [--only=name1,name2]
# Budget: ~20 min Spark side + ~75 min DuckDB side for the full
#         registry on 32 cpus (r13 measurement). NEVER run
#         concurrently with graft.Bench (documented ~20% inflation).
set -euo pipefail
cd "$(dirname "$0")/.."

SF1=benchdata/sf1
OUT=/tmp/verify_sf1
ONLY="${1:-}"
# --only runs log to a side file: SF1_GATE.log is the FULL-registry
# log, and tee would truncate it (a 1-query spot-check would wipe it).
mkdir -p benchdata
if [ -n "$ONLY" ]; then LOG=benchdata/SF1_GATE.only.log
else LOG=benchdata/SF1_GATE.log; fi

if [ ! -d "$SF1" ]; then
  echo "[sf1-gate] building $SF1 (make_sf1.py)..."
  python3 tools/make_sf1.py
fi

echo "[sf1-gate] $(date -u +%FT%TZ) Spark side: full registry at sf1" \
  | tee "$LOG"
rm -rf "$OUT"
NAMES="${ONLY#--only=}"
# Both sides always run; each one's exit status is kept (PIPESTATUS,
# outside set -e) and the gate fails at the end if either failed.
set +e
sbt -batch "runMain graft.Verify $SF1 $OUT ${NAMES}" 2>&1 \
  | grep -E "\[verify\]|success|error" | tee -a "$LOG" | tail -3
spark_rc=${PIPESTATUS[0]}
set -e

echo "[sf1-gate] $(date -u +%FT%TZ) DuckDB side (threads/mem capped, " \
  "temp on the big partition)" | tee -a "$LOG"
set +e
DUCKDB_THREADS="${DUCKDB_THREADS:-28}" \
DUCKDB_MEMLIMIT="${DUCKDB_MEMLIMIT:-90GB}" \
DUCKDB_TEMPDIR="${DUCKDB_TEMPDIR:-/root/repo/benchdata/duckdb_tmp}" \
  python3 tools/check_oracle.py "$SF1" "$OUT" \
    ${ONLY:+"$ONLY"} 2>&1 | tee -a "$LOG" | tail -3
oracle_rc=${PIPESTATUS[0]}
set -e

echo "[sf1-gate] $(date -u +%FT%TZ) done (Verify exit $spark_rc," \
  "oracle exit $oracle_rc) — full log in $LOG" | tee -a "$LOG"
[ "$spark_rc" -eq 0 ] && [ "$oracle_rc" -eq 0 ]
