#!/bin/bash
# Quiet-class launcher (BASELINE.md convention): plain java, not sbt, so the
# launcher's compile/JIT burst doesn't inflate loadavg_start. Runs the
# compiled classes (sbt compile) against the Spark distribution's jars,
# which ship the Scala library too.
# Usage: tools/tool_quiet.sh <main class> [args...]
#   e.g. tools/tool_quiet.sh graft.Bench   (env knobs as documented in Bench)
set -e
cd "$(dirname "$0")/.."
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp target/scala-2.13/classes:'/opt/spark/jars/*' \
  "$@"
