#!/bin/bash
# One-JVM dev-main runner (PERF_r4 §1 method: one heavy measurement per
# JVM, scratch on /dev/shm). Usage: dev/run1.sh <mainClass> [args...]
# Env: HEAP (default: half of the machine's memory, at least 2g).
cd "$(dirname "$0")/.." || exit 1
HEAP="${HEAP:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"$HEAP" -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
