#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt project lock):
#   tools/run_main.sh <mainClass> [args...]
# Mirrors build.sbt's javaOptions (JDK17 add-opens, UTC, no UI).
# Env: SPARK_DRIVER_MEM (default 8g).
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java -Xmx${SPARK_DRIVER_MEM:-8g} \
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
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
