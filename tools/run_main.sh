#!/usr/bin/env bash
# Run a repo main class with plain java (no sbt lock), mirroring
# build.sbt's JDK-17 --add-opens and Spark defaults.
# Usage: tools/run_main.sh [-Xmx..] <mainClass> [args...]
# The default heap is half the host's memory, clamped to 2-8 GB.
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="-Xmx$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
if [[ "${1:-}" == -Xmx* ]]; then XMX="$1"; shift; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java "$XMX" $OPENS -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
