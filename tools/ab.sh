#!/bin/bash
# A/B solo re-timing of gate queries: two compiled class trees, each query
# timed REPS times per side in fresh JVMs, alternating which side runs
# first on each rep so both sides sample the same ambient load. Each run is
# Bench's single-name in-process mode (same warmup + noop sink as the gate),
# so a persistent code regression shows as a persistent ratio and ambient
# contamination shows as parity.
#
#   tools/ab.sh A_CLASSES B_CLASSES
#   QUERIES="stream_kruskal stats_cliffs" REPS=5 SPARK_GRAFT_SF_DIR=<sf0.1 dir> \
#     tools/ab.sh <base checkout>/target/scala-2.13/classes target/scala-2.13/classes
#
# Environment: QUERIES (space-separated gate names), REPS (default 3),
# SPARK_GRAFT_SF_DIR (the fixture dir to time against, required),
# SPARK_GRAFT_CPUS (default 32), SPARK_HOME (Spark install whose jars/ the
# runs use). Output: one line per timed run,
# `A|B <query> rep<i> "<query>":<seconds>`.
set -u
if [ $# -ne 2 ]; then
  echo "usage: $0 A_CLASSES B_CLASSES" >&2
  exit 2
fi
A="$1"
B="$2"
QUERIES="${QUERIES:?set QUERIES to the gate query names to time}"
REPS="${REPS:-3}"
SF="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the fixture dir to time against}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
JARS="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
LOG4J="$(cd "$(dirname "$0")/.." && pwd)/conf/log4j2.properties"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() { # $1=classes dir  $2=query
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC \
    -Dlog4j2.configurationFile="file:$LOG4J" \
    -cp "$1:$JARS/*" graft.Bench "$2" 2>/dev/null \
    | grep -o "\"$2\":[0-9.]*" | head -1
}
for q in $QUERIES; do
  for i in $(seq "$REPS"); do
    if [ $((i % 2)) -eq 1 ]; then order="A B"; else order="B A"; fi
    for side in $order; do
      if [ "$side" = A ]; then dir="$A"; else dir="$B"; fi
      echo "$side $q rep$i $(run "$dir" "$q")"
    done
  done
done
