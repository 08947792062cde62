#!/bin/bash
# Run a graft main class against the compiled sbt output + Spark jars.
# Usage: scripts/run.sh <mainClass> [args...]
#   SPARK_HOME        Spark installation whose jars/ are used (default /opt/spark)
#   SPARK_DRIVER_MEM  JVM heap, as in build.sbt (default 16g)
CLS="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="${SPARK_HOME:-/opt/spark}/jars"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# 512m code cache + flushing: a full bench pass generates thousands of
# janino/whole-stage-codegen classes; the JVM default (240m) filling up
# silently disables the JIT — the 10-25x "contamination" blowup
# signature at zero host steal. Bench records per-sample code-cache
# occupancy (jit_mb) so exhaustion is visible in the artifact.
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-16g}" \
  -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$CLS" "$@"
