#!/bin/bash
# Direct-JVM runner for graft mains — same flags as build.sbt's forked run,
# without sbt startup (~40 s saved per invocation). Usage:
#   tools/runjvm.sh graft.tools.Probe run <sfDir> t_dedup_jaccard
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -XX:ReservedCodeCacheSize=1g \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
