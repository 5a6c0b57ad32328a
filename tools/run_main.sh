#!/bin/bash
# Run a graft main directly against the sbt-compiled classes (faster
# than sbt runMain; same JDK17 add-opens set as build.sbt).
# Runs the classes of the checkout this script sits in; Spark's jars
# come from $SPARK_HOME/jars.
# usage: SPARK_DRIVER_MEM=32g tools/run_main.sh graft.tools.GenScale [args...]
MAIN="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME}/jars/*" \
  "$MAIN" "$@"
