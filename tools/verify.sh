#!/bin/bash
# Correctness gate, run from any checkout of this repository:
#   1. compile + run graft.Verify at sf0.01 -> /tmp/verify_out
#   2. run tools/check.py (DuckDB oracle compare)
# usage: tools/verify.sh [SF_DIR] [OUT_DIR] [q1,q2,...]
# Two checkouts' OUT_DIR/verify_summary.jsonl compare with tools/hashdiff.py.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
sbt -batch package -error >/dev/null
CP="/opt/spark/jars/*:target/scala-2.13/pygrametlspark_2.13-0.1.0.jar"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dlog4j2.configurationFile=file:conf/log4j2.properties \
  -cp "$CP" graft.Verify "$SF" "$OUT" ${3:+"$3"} 2>&1 | grep -v '^2[0-9]' | grep -vi 'warn' || true
# pick a python that actually has duckdb (conda shells may shadow it)
PY=python3
$PY -c 'import duckdb' 2>/dev/null || PY=/root/.pyenv/shims/python3
$PY tools/check.py "$SF" "$OUT"
