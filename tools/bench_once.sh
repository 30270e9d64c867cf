#!/bin/bash
# One full (or SPARK_GRAFT_BENCH_ONLY-restricted) Bench run via direct
# java against the repo's compiled classes — no sbt in the timed window.
# Usage: tools/bench_once.sh <out.json> [classes-dir]
# classes-dir defaults to the compiled classes of the checkout that holds
# this script.
# Env passthrough: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS
# (unset: Bench uses nproc, see GraftSession.defaultCpus),
# SPARK_GRAFT_BENCH_ONLY.
set -u
OUTJ="${1:?usage: bench_once.sh <out.json> [classes-dir]}"
CLASSES="${2:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
SPARK_JARS=$(echo /opt/spark/jars/*.jar | tr ' ' ':')
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_BENCH_OUT="$OUTJ" \
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$SPARK_JARS" graft.Bench > "$OUTJ.stdout" 2> "$OUTJ.err"
echo "rc=$? load=$(cat /proc/loadavg)"
