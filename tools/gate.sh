#!/bin/bash
# Local correctness gate for the tree this script lives in: compile (sbt,
# incremental), run graft.Verify on <sfDir> into <outDir>, then
# tools/check.py compares every query (or the named subset) against its
# DuckDB oracle.
#   tools/gate.sh /root/testdata/sf0.001 /tmp/verify_out [query ...]
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
(cd "$ROOT" && sbt -batch compile > /dev/null)
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/verify_out}
shift 2 2>/dev/null || shift $# # remaining args = query filter
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java -Xmx8g $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" "$@"
python3 "$ROOT/tools/check.py" "$SF" "$OUT" "$@"
