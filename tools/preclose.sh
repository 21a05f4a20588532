#!/usr/bin/env bash
# Round pre-close gate (developer tooling): reproduce the driver's full
# compare in fresh processes — fresh JVM Verify dump, fresh-process
# DuckDB compare (tools/check.py == the driver's recipe), optional 10x
# replica sweep — so an in-session "0 failures" is the same claim the
# driver will make (the r12 builder/driver gate divergence must be
# impossible, not unlucky).
#
# Usage: tools/preclose.sh [sf_dir] [replica_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
REPLICA="${2:-}"
OUT=/tmp/graft_preclose_$$
echo "== full test suite =="
sbt -batch test
echo "== fresh Verify dump @ $SF =="
SPARK_GRAFT_CPUS="$(nproc)" sbt -batch "runMain graft.Verify $SF $OUT"
echo "== fresh DuckDB compare =="
python3 tools/check.py "$SF" "$OUT"
if [ -n "$REPLICA" ]; then
  echo "== 10x replica sweep @ $REPLICA =="
  SPARK_GRAFT_CPUS="$(nproc)" sbt -batch "runMain graft.Verify $REPLICA ${OUT}_replica"
  python3 tools/check.py "$REPLICA" "${OUT}_replica" --json CORRECTNESS_sf1_new.json
fi
echo "preclose: all gates green"
