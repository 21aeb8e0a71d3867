#!/bin/bash
# Local oracle gate: graft.Verify dumps SparkEntry.queries results to
# parquet, then tools/local_verify.py recomputes each entry's DuckDB
# oracle over the same tables and compares values.
#
#   SPARK_GRAFT_SF_DIR=<testdata dir> tools/verify.sh [entry,entry,...]
#
# With no entries every entry runs. Dumps go to
# ${GRAFT_VERIFY_OUT:-${TMPDIR:-/tmp}/graft_verify_<sf dir name>}, which
# is emptied first so an earlier run's dumps are never compared. Exits
# non-zero when any attempted entry fails or differs from its oracle.
set -euo pipefail
cd "$(dirname "$0")/.."

SF=${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to a testdata scale-factor directory}
OUT=${GRAFT_VERIFY_OUT:-${TMPDIR:-/tmp}/graft_verify_$(basename "$SF")}

# an empty SPARK_GRAFT_ONLY would select no entry at all
if [ -n "${1:-}" ]; then export SPARK_GRAFT_ONLY=$1; else unset SPARK_GRAFT_ONLY; fi
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/local_verify.py "$SF" "$OUT"
