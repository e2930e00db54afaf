#!/bin/bash
# Scale-soak timing runner (SURVEY §8 protocol): graft.Bench outside sbt,
# pinned CPUs/heap so decades compare like-for-like. Usage:
#   run_soak.sh <sfDir> <parts> [<only-csv>]
# Env: SOAK_CPUS (16), SOAK_HEAP (24g), SPARK_GRAFT_BENCH_K (3).
# Needs the compiled main classes (sbt compile) and SPARK_HOME.
set -u
if [ $# -lt 2 ]; then
  echo "usage: run_soak.sh <sfDir> <parts> [<only-csv>]" >&2; exit 2
fi
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*"
# JPMS opens mirroring spark-submit's JavaModuleOptions — without them
# Kryo dies InaccessibleObjectException
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_GRAFT_SF_DIR="$1"
export SPARK_GRAFT_SHUFFLE_PARTITIONS="$2"
export SPARK_GRAFT_CPUS="${SOAK_CPUS:-16}"
if [ $# -ge 3 ]; then export SPARK_GRAFT_ONLY="$3"; fi
exec java -cp "$CP" $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SOAK_HEAP:-24g}" \
  graft.Bench
