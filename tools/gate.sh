#!/usr/bin/env bash
# One-command replica of the driver's full gate, runnable verbatim by
# the next round (or the judge):
#
#   tools/gate.sh                # full: benchmark generator tests +
#                                # sbt test + sf0.01 full registry
#   tools/gate.sh q251_foo ...   # incremental: the full gate + sf0.1
#                                # for just the named queries (the
#                                # "new this session" set)
#
# Mirrors the driver exactly: graft.Verify dumps every registered query
# plus oracle_sql.json, then tools/check.py replays each oracle in
# DuckDB and compares through the driver's pandas bridge (column-sorted,
# row-sorted, dtype-kind-sensitive). Exits non-zero on the first stage
# that fails. Dev tool only — not part of the library.
set -euo pipefail
cd "$(dirname "$0")/.."

SF001=${SPARK_GRAFT_SF001:-/root/testdata/sf0.01}
SF01=${SPARK_GRAFT_SF01:-/root/testdata/sf0.1}
OUT001=${GATE_OUT:-/tmp/gate_sf001}
OUT01=${GATE_OUT01:-/tmp/gate_sf01}

echo "== gate 1/4: perfbench input-generator tests =="
python3 -m unittest discover perfbench/tests

echo "== gate 2/4: sbt test =="
sbt -batch test

echo "== gate 3/4: full registry at sf0.01 (Verify + DuckDB oracle) =="
rm -rf "$OUT001"
sbt -batch "runMain graft.Verify $SF001 $OUT001"
python3 tools/check.py "$OUT001" "$SF001"

if [ "$#" -gt 0 ]; then
  echo "== gate 4/4: sf0.1 for new queries: $* =="
  rm -rf "$OUT01"
  sbt -batch "runMain graft.Verify $SF01 $OUT01 $*"
  python3 tools/check.py "$OUT01" "$SF01" "$@"
else
  echo "== gate 4/4: skipped (no new-query args; run with query names"
  echo "   to add the sf0.1 subset check) =="
fi
echo "GATE GREEN"
