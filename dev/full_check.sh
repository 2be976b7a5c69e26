#!/bin/bash
# Full local replica of the round gates:
# spec-only scan → compile → tests → verify+oracle at sf0.001 and sf0.01
# → bench at sf0.1 → smoke → perfbench selftest and one etl_daily run.
# Every main runs on graft.Session: local[SPARK_GRAFT_CPUS or host cores],
# AQE on, so the bench below times the config that ships.
set -euo pipefail
cd "$(dirname "$0")/.."
python3 dev/spec_only_scan.py   # no def that only specs call, beyond its keep-list
sbt -batch compile
sbt -batch test
for sf in sf0.001 sf0.01; do
  out=$(mktemp -d)
  log=$(mktemp --suffix=.verify-stderr.log)
  dev/run_main.sh graft.Verify /root/testdata/$sf "$out" 2>"$log"
  python3 dev/check_oracles.py /root/testdata/$sf "$out"
  # warning counts: repeated persists, single-partition windows
  echo "$sf warnings: already-cached $(grep -c 'Asked to cache already cached data' "$log" || true)," \
    "no-partition-windows $(grep -c 'No Partition Defined' "$log" || true) (log: $log)"
done
dev/run_main.sh graft.Bench 2>/dev/null | tail -1   # sf0.1, the shipped session
dev/run_main.sh graft.Smoke 2>/dev/null | grep smoke
# perfbench: the frozen gates exist and keep their fingerprints, and one
# short etl_daily run checks the catalog it builds over two days (SCD2
# versions, fact rows, revenue cents, zero unresolved keys); each exits
# non-zero on a failed check
python3 perfbench/run.py --mode selftest
python3 perfbench/run.py --workload etl_daily --seconds 1 --trace 0 | tail -1
echo "FULL CHECK PASSED"
