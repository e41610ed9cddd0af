#!/bin/bash
# Build + run Verify at a scale factor + diff against DuckDB oracle.
# Usage: tools/verify.sh [sfdir] [query-name ...]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
shift 2>/dev/null || true
OUT=/tmp/verify_out
sbt -batch package > /tmp/sbt_package.log 2>&1 || { tail -30 /tmp/sbt_package.log; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | head -1)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$JAR:/opt/spark/jars/*" graft.Verify "$SF" "$OUT" 2>/tmp/verify_err.log \
  "$@" || { tail -30 /tmp/verify_err.log; exit 1; }
grep -E '^\[verify\]' /tmp/verify_err.log || true
python3 tools/check.py "$SF" "$OUT" "$@"
