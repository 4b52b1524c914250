#!/usr/bin/env bash
# Direct-JVM runner for the mains (graft.tools.Probe, graft.Bench,
# graft.tools.ExplainOne, ...): the build.sbt fork settings (JDK17
# add-opens, default heap, UTC, UI off) without the sbt lock. Run
# `sbt compile` first; it runs the classes under target/.
#   tools/runmain.sh <mainClass> [args...]
set -u
MAIN="$1"; shift
CP="$(dirname "$0")/../target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$MAIN" "$@"
