#!/bin/bash
# Full local replica of the round gates:
# spec-only scan → compile → tests → verify+oracle at sf0.001 and sf0.01
# → the cross-JVM verify+oracle sweep at sf0.001
# → bench at sf0.1 → smoke → perfbench selftest and one etl_daily run.
# Every main runs on graft.Session: local[SPARK_GRAFT_CPUS or host cores],
# AQE on, so the bench below times the config that ships.
set -euo pipefail
cd "$(dirname "$0")/.."
python3 dev/spec_only_scan.py   # no def that only specs call, beyond its keep-list
sbt -batch compile
sbt -batch test
# gate runs keep their fixtures under one scratch root the JVM deletes at
# exit: a Verify run that leaves a /tmp/graft-* entry behind fails the check
tmp_entries() { find /tmp -maxdepth 1 -name 'graft-*' | wc -l; }
before=$(tmp_entries)
for sf in sf0.001 sf0.01; do
  out=$(mktemp -d)
  log=$(mktemp --suffix=.verify-stderr.log)
  dev/run_main.sh graft.Verify /root/testdata/$sf "$out" 2>"$log"
  python3 dev/check_oracles.py /root/testdata/$sf "$out"
  # warning counts: repeated persists, single-partition windows; a plan
  # persisted twice means a cache nobody owns, so any such warning fails
  cached=$(grep -c 'Asked to cache already cached data' "$log" || true)
  echo "$sf warnings: already-cached $cached," \
    "no-partition-windows $(grep -c 'No Partition Defined' "$log" || true) (log: $log)"
  grep '\[verify\] persisted RDDs at exit' "$log" | sed "s/^/$sf /"
  if [ "$cached" -gt 0 ]; then
    echo "$sf Verify asked to cache already cached data $cached times" >&2
    exit 1
  fi
done
after=$(tmp_entries)
if [ "$after" -gt "$before" ]; then
  echo "Verify left $((after - before)) /tmp/graft-* entries behind" >&2
  exit 1
fi
# the same gate with separate executor JVMs (dev/verify_cluster.sh's
# default master: two 2-core, 2 GB workers)
out=$(mktemp -d)
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-3g} dev/verify_cluster.sh /root/testdata/sf0.001 "$out" 2>/dev/null
python3 dev/check_oracles.py /root/testdata/sf0.001 "$out"
dev/run_main.sh graft.Bench 2>/dev/null | tail -1   # sf0.1, the shipped session
dev/run_main.sh graft.Smoke 2>/dev/null | grep smoke
# perfbench: the frozen gates exist and keep their fingerprints, and one
# short etl_daily run checks the catalog it builds over two days (SCD2
# versions, fact rows, revenue cents, zero unresolved keys); each exits
# non-zero on a failed check
python3 perfbench/run.py --mode selftest
etl=$(python3 perfbench/run.py --workload etl_daily --seconds 1 --trace 0 | tail -1)
echo "$etl"
# the catalog writes ZSTD parquet: the default seed's storage_amp is 0.70
# (0.90 with Snappy versions), so a format that reverts fails here
python3 -c 'import json, sys
amp = json.loads(sys.argv[1])["metrics"]["storage_amp"]["value"]
sys.exit(f"etl_daily storage_amp {amp:.3f} > 0.75: catalog versions are not ZSTD" if amp > 0.75 else 0)' "$etl"
echo "FULL CHECK PASSED"
