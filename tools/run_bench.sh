#!/bin/bash
# Dev helper: run graft.Bench directly (bypasses sbt startup).
# Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... tools/run_bench.sh [query ...]
#        tools/run_bench.sh --headline   # the pinned bench/headline.txt set
#
# Protocol (BASELINE.md "Bench protocol"): iterate on --headline (the ~60
# driver-tail queries, pinned per round so day-to-day numbers are
# attributable to code, not suite growth); run the FULL suite (no args)
# once before round close to refresh bench/bench_latest.json.
if [ "$1" = "--headline" ]; then
  shift
  set -- $(cat "$(dirname "$0")/../bench/headline.txt") "$@"
fi
# the jar built in this script's own checkout, wherever it lives
JAR="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/atacdataproductsspark_2.13-0.1.0.jar"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${BENCH_MEM:-16g} -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -Dspark.ui.enabled=false \
  -cp "$JAR:/opt/spark/jars/*" \
  graft.Bench "$@"
