#!/bin/bash
# The A/B script, in two modes.
#
# Gate-query mode: solo re-timing of gate queries from two compiled class
# trees, each query timed REPS times per side in fresh JVMs, alternating
# which side runs first on each rep so both sides sample the same ambient
# load. Each run is Bench's single-name in-process mode (same warmup + noop
# sink as the gate), so a persistent code regression shows as a persistent
# ratio and ambient contamination shows as parity.
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
#
# Pipebench mode: PAIRS untraced pipebench runs per side and workload from
# two checkouts, A the parent and B the change, on seeds 101, 102, ...; pair
# i runs A first when i is odd and B first when it is even, so drift in the
# machine's load hits both sides alike. Each checkout builds and runs its
# own pipebench/run.py.
#
#   PAIRS=10 tools/ab.sh --pipebench <parent checkout> <change checkout>
#
# Every workload runs for the run_seconds, and is judged by the end-to-end
# metrics and bounds, of the parent's BENCHMARK.json, so a change cannot
# move the bar it is measured against; a warning is printed when the two
# checkouts' BENCHMARK.json differ.
#
# Environment: PAIRS (default 10), OUT (directory for each run's JSON line,
# default a fresh temporary one). Output: one progress line per run, then
# per workload and end-to-end metric the median and interquartile range of
# each side, the change's relative median difference, how many pairs the
# change won, and a verdict: "better in every run" when every change run
# beats every parent run, else "unresolved" when the parent's IQR exceeds
# the metric's bound (the runs cannot show a change of that size) unless
# every change run is worse than every parent run, else "WORSE" when the
# change's median is worse than the parent's by more than the bound, else
# "within". Exit 1 if any metric reads WORSE, any run
# failed or a change run read incorrect, else 0.
set -u
if [ "${1:-}" = "--pipebench" ]; then
  if [ $# -ne 3 ]; then
    echo "usage: $0 --pipebench PARENT_CHECKOUT CHANGE_CHECKOUT" >&2
    exit 2
  fi
  A="$(cd "$2" && pwd)" || exit 2
  B="$(cd "$3" && pwd)" || exit 2
  PAIRS="${PAIRS:-10}"
  OUT="${OUT:-$(mktemp -d -t ab_pipebench.XXXXXX)}"
  mkdir -p "$OUT"
  field() { python3 -c "import json,sys; b=json.load(open(sys.argv[1])); print($1)" "$A/BENCHMARK.json"; }
  workloads="$(field "' '.join(w['name'] for w in b['workloads'])")"
  run_seconds="$(field "b['run_seconds']")"
  cmp -s "$A/BENCHMARK.json" "$B/BENCHMARK.json" ||
    echo "[ab] warning: BENCHMARK.json differs between the checkouts; judging by the parent's" >&2
  echo "[ab] pipebench: $PAIRS pairs per workload, runs in $OUT" >&2
  for w in $workloads; do
    for i in $(seq "$PAIRS"); do
      seed=$((100 + i))
      if [ $((i % 2)) -eq 1 ]; then order="A B"; else order="B A"; fi
      for side in $order; do
        if [ "$side" = A ]; then dir="$A"; else dir="$B"; fi
        res="$OUT/$w.$side.$seed.json"
        (cd "$dir" && python3 pipebench/run.py --workload "$w" --seed "$seed" \
          --seconds "$run_seconds" --trace 0 2>/dev/null) | grep '^{' | tail -1 > "$res"
        echo "[ab] $w seed $seed $side: $([ -s "$res" ] && echo ok || echo FAILED)" >&2
      done
    done
  done
  exec python3 - "$A/BENCHMARK.json" "$OUT" "$PAIRS" $workloads <<'PY'
import json, os, statistics, sys

bench, out, pairs, workloads = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4:]
metrics = json.load(open(bench))["end_to_end"]
bad = 0

def load(w, side, seed):
    path = os.path.join(out, f"{w}.{side}.{seed}.json")
    try:
        with open(path) as f:
            return json.loads(f.read())
    except (OSError, ValueError):
        return None

def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q1, q2, q3

for w in workloads:
    runs = [(load(w, "A", 100 + i), load(w, "B", 100 + i)) for i in range(1, pairs + 1)]
    missing = sum(r is None for pair in runs for r in pair)
    runs = [(a, b) for a, b in runs if a is not None and b is not None]
    bad += missing > 0
    ops = {s: (sum(p[k]["attempted"] for p in runs), sum(p[k]["failed"] for p in runs),
               sum(not p[k]["correct"] for p in runs)) for k, s in ((0, "A"), (1, "B"))}
    print(f"== {w}: {len(runs)} complete pairs, {missing} failed runs; "
          f"ops failed A {ops['A'][1]}/{ops['A'][0]} B {ops['B'][1]}/{ops['B'][0]}; "
          f"incorrect runs A {ops['A'][2]} B {ops['B'][2]}")
    bad += ops["B"][2] > 0
    if not runs:
        continue
    print(f"{'metric':16s} {'A median':>10s} {'A IQR':>9s} {'B median':>10s} {'B IQR':>9s} "
          f"{'B vs A':>8s} {'B wins':>7s}  verdict")
    for m in metrics:
        n, lower = m["name"], m["better"] == "lower"
        if n not in runs[0][0]["metrics"]:
            continue
        a = [p[0]["metrics"][n]["value"] for p in runs]
        b = [p[1]["metrics"][n]["value"] for p in runs]
        a1, am, a3 = quartiles(a)
        b1, bm, b3 = quartiles(b)
        rel = (bm - am) / abs(am) if am else 0.0
        spread = (a3 - a1) / abs(am) if am else 0.0
        worse = rel if lower else -rel
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        if all((y < x) if lower else (y > x) for x in a for y in b):
            verdict = "better in every run"
        elif spread > m["bound"] and not (
                worse > m["bound"] and all((y > x) if lower else (y < x) for x in a for y in b)):
            verdict = f"unresolved (A IQR {spread:.0%} > bound {m['bound']:.0%})"
        elif worse > m["bound"]:
            verdict = f"WORSE (bound {m['bound']:.0%})"
            bad += 1
        else:
            verdict = f"within (bound {m['bound']:.0%})"
        print(f"{n:16s} {am:10.5g} {a3 - a1:9.3g} {bm:10.5g} {b3 - b1:9.3g} "
              f"{rel:+8.1%} {wins:>3d}/{len(runs):<3d}  {verdict}")
sys.exit(1 if bad else 0)
PY
fi
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
