#!/usr/bin/env bash
# Run a graft main class (default graft.Bench) straight from this checkout's
# compiled classes + $SPARK_HOME's Spark jars — no sbt lock, so A/B subset
# benches can run while sbt is busy and without sbt's JVM spin-up between
# runs, and a second checkout (e.g. of a parent commit) runs its own build.
# Usage: [env vars] tools/bench.sh [mainClass] [args...]
#   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_BENCH_OUT,
#   SPARK_GRAFT_BENCH_PASSES as in Bench.scala; SPARK_GRAFT_CPUS as in
#   GraftSession.scala.
set -euo pipefail
MAIN="${1:-graft.Bench}"
shift || true
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$MAIN" "$@"
