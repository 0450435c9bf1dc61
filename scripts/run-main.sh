#!/bin/bash
# Run a graft tool main directly on the compiled classes (no sbt lock).
# Usage: scripts/run-main.sh [-Dspark.key=value ...] [-Xmx..] graft.Probe [args...]
# JVM options go before the main class; a -Dspark.* option sets that conf
# on the session graft.GraftSession builds (how a conf is A/B-compared).
set -euo pipefail
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
MEM="${SPARK_DRIVER_MEM:-8g}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
exec java $FLAGS -Xmx"$MEM" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
