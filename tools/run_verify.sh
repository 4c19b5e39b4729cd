#!/bin/bash
# Dev helper: run graft.Verify directly (bypasses sbt startup).
SF_DIR=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/verify_out}
shift 2 2>/dev/null
# the jar built in this script's own checkout, wherever it lives
JAR="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/atacdataproductsspark_2.13-0.1.0.jar"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
exec java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
  -cp "$JAR:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" "$@"
