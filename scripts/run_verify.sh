#!/bin/bash
# Dev helper: compile once, then run graft.Verify fast via plain java.
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
# the Spark jars dir is the one build.sbt compiles against
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
[ -n "$JARS" ] || { echo "no unmanagedBase in $ROOT/build.sbt" >&2; exit 1; }
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/verify_out}
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-8g} -XX:ReservedCodeCacheSize=1g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  graft.Verify "$SF_DIR" "$OUT_DIR"
