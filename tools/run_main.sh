#!/bin/bash
# Run a graft main class directly with java (bypasses sbt startup).
# Usage: tools/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM is the heap (-Xmx), default 24g; set it below
# physical memory on a smaller host. Classpath cached at /tmp/graft_cp.txt
# (regenerate with: sbt -batch "export Runtime/fullClasspath").
set -e
CP=$(cat /tmp/graft_cp.txt)
MAIN=$1; shift
exec java -Xmx${SPARK_DRIVER_MEM:-24g} \
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
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$MAIN" "$@"
