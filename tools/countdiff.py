#!/usr/bin/env python3
"""Compare the count metrics of two traced pipebench runs.

usage: tools/countdiff.py A.out B.out

Each file is the standard output of `pipebench/run.py --trace 1`; its last
JSON line holds the run's metrics. Count metrics are those whose names end
in .jobs, .tasks, .written_mb, freeze_jobs or merge_jobs, plus spark.jobs and
spark.tasks. Prints every count metric whose value differs, or that only one
run reports, then a one-line total. Exits 1 if any differs, else 0.
"""
import json
import sys

COUNT_SUFFIXES = (".jobs", ".tasks", ".written_mb", "freeze_jobs", "merge_jobs")


def counts(path):
    with open(path) as f:
        last = [line for line in f if line.lstrip().startswith("{")][-1]
    metrics = json.loads(last)["metrics"]
    return {n: m["value"] for n, m in metrics.items() if n.endswith(COUNT_SUFFIXES)}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = counts(argv[1]), counts(argv[2])
    bad = 0
    for n in sorted(a.keys() | b.keys()):
        va, vb = a.get(n), b.get(n)
        if va != vb:
            print(f"DIFFERS: {n:40s} A {va!r:>12} B {vb!r:>12}")
            bad += 1
    same = sum(1 for n in a.keys() & b.keys() if a[n] == b[n])
    print(f"{same} count metrics identical, {bad} differing or missing (A {len(a)}, B {len(b)})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
