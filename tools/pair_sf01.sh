#!/usr/bin/env bash
# Same-window sf0.1 bench pair: Spark full registry (full warm-min-of-3
# protocol), then BOTH DuckDB modes, back-to-back.
set -uo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
echo "[pair01] spark bench start $(date -u +%H:%M:%S)"
sbt -batch "runMain graft.Bench" > /tmp/pair01_spark.log 2>&1
rc=$?
echo "[pair01] spark bench done rc=$rc $(date -u +%H:%M:%S)"
# Guard the snapshot on success: without it a failed sbt run would copy the
# PREVIOUS run's BENCH_FULL.json under this run's name and look fresh.
# Non-default protocols (WARM_PASSES/ONLY) write BENCH_FULL.dev.json.
src=BENCH_FULL.json
{ [ -n "${SPARK_GRAFT_WARM_PASSES:-}" ] && [ "${SPARK_GRAFT_WARM_PASSES}" != 3 ]; } \
  || [ -n "${SPARK_GRAFT_ONLY:-}" ] \
  && src=BENCH_FULL.dev.json
[ $rc -eq 0 ] && cp "$src" /tmp/bench_sf01_spark.json
echo "[pair01] duckdb default start $(date -u +%H:%M:%S)"
python3 tools/oracle_bench.py /root/testdata/sf0.1 /tmp/vout_sql/oracle_sql.json \
  > /tmp/duck_sf01_default.json 2>/tmp/duck_sf01_default.err
echo "[pair01] duckdb default rc=$? $(date -u +%H:%M:%S)"
echo "[pair01] duckdb amortize start $(date -u +%H:%M:%S)"
python3 tools/oracle_bench.py /root/testdata/sf0.1 /tmp/vout_sql/oracle_sql.json --amortize \
  > /tmp/duck_sf01_amortize.json 2>/tmp/duck_sf01_amortize.err
echo "[pair01] duckdb amortize rc=$? $(date -u +%H:%M:%S)"
echo "[pair01] ALL DONE"
