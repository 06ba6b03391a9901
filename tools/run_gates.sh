#!/usr/bin/env bash
# One-command reproduction of every gate the round driver applies:
#   1. full ScalaTest suite
#   2. Verify dump at sf0.01 + DuckDB oracle compare (the correctness gate)
#   3. full Bench at sf0.1 + spread regression vs the committed baseline
# Run serially on purpose — two concurrent Spark JVMs taint every timing
# on this class of machine. ~20 min end to end.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== gate 0/3: bench-gate self-test (contention refusal) + benchmark-harness unit tests ==="
python3 tools/check_bench_regression.py --self-test
python3 -m unittest discover -s perfbench/tests

echo "=== gate 1/3: sbt test ==="
sbt -batch test

echo "=== gate 2/3: correctness (Verify + DuckDB oracle, sf0.01) ==="
# Verify exits non-zero when a query threw, after dumping all the others:
# record its status, still run the oracle compare over the dumps, then fail
set +e
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gates_verify"
verify_status=$?
set -e
# third arg writes the load-marker-stamped JSON artifact (r16): commit it
# as CORRECTNESS_r<N>.json so the round closes with marker evidence
python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/gates_verify \
  /tmp/gates_correctness.json
if [[ $verify_status -ne 0 ]]; then
  echo "Verify failed (exit $verify_status): see the [verify] lines above" >&2
  exit "$verify_status"
fi

echo "=== gate 3/3: bench regression (sf0.1 vs BENCH_BASELINE.json) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>/dev/null | grep -o '{"metric".*}' > /tmp/gates_bench.json
python3 tools/check_bench_regression.py BENCH_BASELINE.json /tmp/gates_bench.json

# The round driver archives only the last ~2 KB of Bench stdout into
# BENCH_r<N>.json, which truncates the per-query map (r12/r13 verdict
# item). The COMPLETE artifact is BENCH_FULL.json (written by the Bench
# main itself); copy it to the per-round name so the committed history
# always carries a parseable full artifact. Round number from the env
# (GRAFT_ROUND=14 ./tools/run_gates.sh) or skipped.
if [[ -n "${GRAFT_ROUND:-}" ]]; then
  cp BENCH_FULL.json "BENCH_r$(printf '%02d' "$GRAFT_ROUND").json"
  echo "copied BENCH_FULL.json -> BENCH_r$(printf '%02d' "$GRAFT_ROUND").json"
fi

echo "=== all gates clean ==="
