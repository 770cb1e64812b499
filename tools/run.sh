#!/bin/bash
# Fast dev runner: java directly against compiled classes + /opt/spark/jars.
# Usage: tools/run.sh <mainClass> [args...]   (after `sbt compile` / `sbt package`)
set -e
MAIN="$1"; shift
# this checkout's classes, so a second checkout (say, a parent commit for a
# plan diff) runs its own build
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$MAIN" "$@"
