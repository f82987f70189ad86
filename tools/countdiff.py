#!/usr/bin/env python3
"""Compare the count metrics of two traced pipebench runs or two
graft.tools.ProfileQuery runs.

usage: tools/countdiff.py A.out B.out

A pipebench file is the standard output of `pipebench/run.py --trace 1`;
its last JSON line holds the run's metrics. Count metrics are those whose
names end in .jobs, .tasks, .written_mb, freeze_jobs or merge_jobs, plus
spark.jobs and spark.tasks.

A ProfileQuery file is the standard output of `graft.tools.ProfileQuery`:
each `<query> wall=... jobs=N stages=N tasks=N ...` line becomes the count
metrics <query>.jobs, <query>.stages and <query>.tasks. A query with a
`<query> FAILED: ...` line counts as missing.

Prints every count metric whose value differs, or that only one run
reports, then a one-line total. Exits 1 if any differs, else 0.
"""
import json
import re
import sys

COUNT_SUFFIXES = (".jobs", ".tasks", ".written_mb", "freeze_jobs", "merge_jobs")
PROFILE_LINE = re.compile(
    r"^(\S+)\s+wall=\s*[\d.]+s\s+jobs=\s*(\d+)\s+stages=\s*(\d+)\s+tasks=\s*(\d+)")
PROFILE_FAILED = re.compile(r"^\s*(\S+) FAILED:")


def counts(path):
    with open(path) as f:
        lines = f.readlines()
    json_lines = [line for line in lines if line.lstrip().startswith("{")]
    if json_lines:
        metrics = json.loads(json_lines[-1])["metrics"]
        return {n: m["value"] for n, m in metrics.items() if n.endswith(COUNT_SUFFIXES)}
    failed = {m.group(1) for m in map(PROFILE_FAILED.match, lines) if m}
    out = {}
    for m in map(PROFILE_LINE.match, lines):
        if m and m.group(1) not in failed:
            q = m.group(1)
            out.update({f"{q}.jobs": int(m.group(2)), f"{q}.stages": int(m.group(3)),
                        f"{q}.tasks": int(m.group(4))})
    return out


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
