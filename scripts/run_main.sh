#!/usr/bin/env bash
# Dev runner: launch a graft main class with plain java (no sbt), using
# the compiled classes + the image's Spark jars. Mirrors build.sbt's
# forked-run JVM flags so measurements match `sbt runMain` numbers.
# Usage: scripts/run_main.sh graft.Dev time <sfDir> q119_pagerank
set -euo pipefail
CLASSES=/root/repo/target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  -XX:ReservedCodeCacheSize="${SPARK_CODE_CACHE:-512m}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
