#!/bin/bash
# Run a graft main class outside sbt (no sbt lock contention):
#   tools/run_main.sh <mainClass> [args...]
# Mirrors build.sbt's javaOptions (JDK17 add-opens + 32g heap).
set -euo pipefail
cd "$(dirname "${BASH_SOURCE[0]}")/.."   # the checkout this script belongs to
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-32g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${SPARK_GRAFT_JAVA_OPTS:-} -cp "$CP" "$@"
