#!/usr/bin/env bash
# Plain-java runner for graft's local mains (graft.Bench, graft.Verify,
# graft.Profile) over the classes `sbt compile` left in target/. Measurement
# runs must NOT go through sbt: zinc rewriting class files can crash a live
# JVM mid-run, and the sbt process itself contaminates timings (PLANS.md
# protocol note).
# Usage: tools/run_main.sh <main> [args...]
#   e.g. SPARK_GRAFT_SF_DIR=<sf dir> tools/run_main.sh graft.Bench
# Env: SPARK_DRIVER_MEM (heap, default 16g), SPARK_GRAFT_CPUS (local[n],
# default the machine's core count), plus whatever the main reads.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
