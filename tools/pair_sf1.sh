#!/usr/bin/env bash
# Same-window sf1 bench pair: Spark full registry, then BOTH DuckDB modes,
# back-to-back. Artifacts land in /tmp; BASELINE.md records them.
set -uo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR=${1:-/root/repo/testdata-sf1}
echo "[pair] spark bench start $(date -u +%H:%M:%S)"
sbt -batch "runMain graft.Bench" > /tmp/pair_spark.log 2>&1
rc=$?
echo "[pair] spark bench done rc=$rc $(date -u +%H:%M:%S)"
# Guard the snapshot on success: without it a failed sbt run would copy the
# PREVIOUS run's BENCH_FULL.json under this run's name and look fresh.
# Non-default protocols (WARM_PASSES/ONLY) write BENCH_FULL.dev.json.
src=BENCH_FULL.json
{ [ -n "${SPARK_GRAFT_WARM_PASSES:-}" ] && [ "${SPARK_GRAFT_WARM_PASSES}" != 3 ]; } \
  || [ -n "${SPARK_GRAFT_ONLY:-}" ] \
  && src=BENCH_FULL.dev.json
[ $rc -eq 0 ] && cp "$src" /tmp/bench_sf1_spark.json
echo "[pair] duckdb default start $(date -u +%H:%M:%S)"
python3 tools/oracle_bench.py "$SPARK_GRAFT_SF_DIR" /tmp/vout_sql/oracle_sql.json \
  > /tmp/duck_sf1_default.json 2>/tmp/duck_sf1_default.err
echo "[pair] duckdb default rc=$? $(date -u +%H:%M:%S)"
echo "[pair] duckdb amortize start $(date -u +%H:%M:%S)"
python3 tools/oracle_bench.py "$SPARK_GRAFT_SF_DIR" /tmp/vout_sql/oracle_sql.json --amortize \
  > /tmp/duck_sf1_amortize.json 2>/tmp/duck_sf1_amortize.err
echo "[pair] duckdb amortize rc=$? $(date -u +%H:%M:%S)"
echo "[pair] ALL DONE"
