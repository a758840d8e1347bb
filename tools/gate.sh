#!/usr/bin/env bash
# END-OF-ROUND GATE — run before any snapshot/commit that touches query
# registrations or shared SQL text (the round-12 lesson: three queries
# shipped with Spark-unparsable shared SQL because the snapshot landed
# without this check).
#
#   tools/gate.sh            # fast: every query CONSTRUCTS AND RUNS at
#                            # sf0.001 + registry/oracle key parity
#   tools/gate.sh full       # + full DuckDB hash-compare at sf0.01
#
# Exit nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch "testOnly graft.ContractSpec" 2>&1 | tail -5 | grep -q "All tests passed." \
  || { echo "GATE FAIL: ContractSpec"; exit 1; }
echo "GATE OK: ContractSpec (all queries run at sf0.001; registry<->oracle<->SURVEY parity)"

if [[ "${1:-}" == "full" ]]; then
  rm -rf /tmp/gate_vout
  # Verify exits 1 naming the failed queries; under set -e a bare call would
  # end the gate without a word
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_vout" >/tmp/gate_verify.log 2>&1 \
    || { echo "GATE FAIL: Verify exited nonzero: $(grep -o '[0-9]* queries failed: .*' /tmp/gate_verify.log | tail -1) (log: /tmp/gate_verify.log)"; exit 1; }
  python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_vout | tail -1
  python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_vout | tail -1 | grep -q "ALL GREEN" \
    || { echo "GATE FAIL: correctness"; exit 1; }
fi
