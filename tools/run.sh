#!/bin/bash
# Run a compiled main class against the Spark jars without sbt overhead.
# Usage: tools/run.sh graft.Verify [args...]
set -e
CLS="$1"; shift || true
# `sbt compile` does NOT copy resources: a fresh classes dir lacks the
# META-INF DataSourceRegister service file and every `avro` short-name
# read dies with "Failed to find data source" (bit the round-12
# correctness run). Self-heal: mirror src/main/resources in.
RES=/root/repo/src/main/resources
CLASSES=/root/repo/target/scala-2.13/classes
if [ -d "$RES" ] && [ -d "$CLASSES" ] && \
   [ ! -e "$CLASSES/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister" ]; then
  cp -r "$RES/." "$CLASSES/"
fi
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -Xmx${SPARK_DRIVER_MEM:-24g} \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
