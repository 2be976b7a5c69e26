#!/bin/bash
# CI-style correctness gate under local-cluster execution: same graft.Verify
# surface, but with SEPARATE executor JVMs (real closure serialization, no
# shared driver state) — proves nothing silently relies on local-mode's
# single JVM. Usage: dev/verify_cluster.sh <sfDir> <outDir> [queryNames...]
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_HOME=${SPARK_HOME:-/opt/spark}
# the trimmed distribution has no launcher/target build dirs to sniff the
# Scala version from — pin it so worker JVMs can assemble their classpath
export SPARK_SCALA_VERSION=${SPARK_SCALA_VERSION:-2.13}
export SPARK_GRAFT_MASTER=${SPARK_GRAFT_MASTER:-local-cluster[2,2,2048]}
exec dev/run_main.sh graft.Verify "$@"
