#!/bin/bash
# Run a ScaleReport campaign on the compiled classes directly (bypasses
# sbt's forked-JVM overhead; same flags Spark's launcher sets on JDK 17).
# Build first with `sbt compile`. JSON rows go to stdout, Spark's log to
# stderr.
# Usage: tools/campaign.sh <sfDir> [section ...]   (pipeline fuzzyseed fpseed)
# SPARK_GRAFT_CPUS and SPARK_GRAFT_PIPE_SPAN pass straight through.
set -euo pipefail
SFDIR="$1"
shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must point at a Spark 4 install}/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
 --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
 --add-opens=java.base/java.io=ALL-UNNAMED \
 --add-opens=java.base/java.net=ALL-UNNAMED \
 --add-opens=java.base/java.nio=ALL-UNNAMED \
 --add-opens=java.base/java.util=ALL-UNNAMED \
 --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
 --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
 --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens=java.base/sun.security.action=ALL-UNNAMED \
 --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  java -Xmx48g -cp "$CP" $OPENS graft.ScaleReport "$SFDIR" "$@" \
  | grep '"op"'
