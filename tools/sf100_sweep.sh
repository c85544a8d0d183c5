#!/bin/sh
# One-command sf100 (or any generated-scale) strict-oracle sweep, encoding
# the full two-disk-phase protocol and the three r17 operational traps
# (r17 verdict #7):
#
#   trap 1 (single-JVM shuffle-scratch ENOSPC): every query dumps in its
#     own child JVM with a pinned, orchestrator-swept spark.local.dir
#     (Diag dump --per-jvm);
#   trap 2 (oracle_sql.json clobber on top-up): the dump rebuilds the
#     slice from ALL dump dirs present, so phases merge;
#   trap 3 (orphan blockmgr scratch): each child's scratch lives under the
#     dump dir and is deleted the moment that child exits — nothing is
#     ever written to (or removed from) a shared /tmp/blockmgr-*.
#
# Phase 1 dumps + oracles the TPC-DS declared names against the generated
# TPC-DS cache; phase 2 removes that cache (disk budget: the two sf100
# caches do not fit together) and runs the TpchFull-cache names. Exit 0 =
# every oracle strict cell-exact; exit 3 = some query fell back through
# the DuckDB budget (run the dual + invariants legs); exit 1 = a real
# mismatch or a failed dump.
#
# Usage: tools/sf100_sweep.sh <sf> <dumpDir> [--mem GB] [--timeout SEC]
#   e.g. tools/sf100_sweep.sh sf100 /tmp/sf100_sweep --mem 40 --timeout 900
set -eu
SF="${1:?usage: sf100_sweep.sh <sf> <dumpDir> [--mem GB] [--timeout SEC]}"
DUMP="${2:?usage: sf100_sweep.sh <sf> <dumpDir> [--mem GB] [--timeout SEC]}"
shift 2
MEM=40; TIMEOUT=900
while [ $# -gt 0 ]; do
  case "$1" in
    --mem) MEM="$2"; shift 2 ;;
    --timeout) TIMEOUT="$2"; shift 2 ;;
    *) echo "unknown flag $1" >&2; exit 2 ;;
  esac
done
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

# declared name lists come from the entry map itself (never hand-kept):
# TPC-DS = q_tpcds_* minus the sf1-pinned *_pub twins + returns; TpchFull =
# the q_tpch_* whose oracle pins the tpchfull cache.
NAMES_TPCDS=$(sbt -batch -error "runMain graft.tools.Diag names tpcds-generated" | tail -1)
NAMES_TPCH=$(sbt -batch -error "runMain graft.tools.Diag names tpchfull" | tail -1)
[ -n "$NAMES_TPCDS" ] && [ -n "$NAMES_TPCH" ] || {
  echo "name listing failed" >&2; exit 1; }

echo "== phase 1: TPC-DS ($(echo "$NAMES_TPCDS" | wc -w | tr -d ' ') queries) at $SF =="
# shellcheck disable=SC2086
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" sbt -batch \
  "runMain graft.tools.Diag dump $DUMP --per-jvm --sf=$SF $NAMES_TPCDS"
RC1=0
python3 tools/sf100_check.py oracle "$DUMP" "/tmp/graft_tpcds/gen20/$SF" \
  --timeout "$TIMEOUT" --mem "$MEM" || RC1=$?
[ "$RC1" = 0 ] || [ "$RC1" = 3 ] || exit "$RC1"

echo "== phase 2: TpchFull ($(echo "$NAMES_TPCH" | wc -w | tr -d ' ') queries) at $SF =="
echo "   (removing the TPC-DS $SF cache first — the two caches do not fit together)"
rm -rf "/tmp/graft_tpcds/gen20/$SF"
# shellcheck disable=SC2086
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" sbt -batch \
  "runMain graft.tools.Diag dump ${DUMP}_tpch --per-jvm --sf=$SF $NAMES_TPCH"
RC2=0
python3 tools/sf100_check.py oracle "${DUMP}_tpch" "/tmp/graft_tpcds/gen20/$SF" \
  --timeout "$TIMEOUT" --mem "$MEM" || RC2=$?
[ "$RC2" = 0 ] || [ "$RC2" = 3 ] || exit "$RC2"

if [ "$RC1" = 3 ] || [ "$RC2" = 3 ]; then
  echo "SWEEP: some oracles fell back through the DuckDB budget (exit 3) —"
  echo "run the dual-run + invariants legs for those queries."
  exit 3
fi
echo "SWEEP: all oracles strict cell-exact."
