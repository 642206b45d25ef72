#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars without
# sbt startup overhead. Usage: tools/run.sh graft.Verify <args...>
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
# `sbt compile` alone does not copy src/main/resources; without the
# services file every graft-* read fails with DATA_SOURCE_NOT_FOUND
SERVICES=target/scala-2.13/classes/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister
if [ ! -f "$SERVICES" ]; then
  echo "tools/run.sh: $SERVICES missing; run: sbt Compile/copyResources" >&2
  exit 1
fi
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
