#!/bin/bash
# Run a graft main class without sbt (so it can run concurrently with an
# sbt-held bench): tools/run_local.sh graft.Verify <sfDir> <outDir>
# Runs the classes compiled in this checkout (sbt compile first).
# JVM flags mirror build.sbt's jdk17AddOpens + defaults.
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
