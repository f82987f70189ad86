#!/usr/bin/env python3
"""Compare two graft.Verify runs query by query.

usage: tools/hashdiff.py A/verify_summary.jsonl B/verify_summary.jsonl

Each line of a verify_summary.jsonl names a query with the row count and
sha256 of its canonicalized result. Prints every query whose rows or sha256
differ, or that only one run produced, then a one-line total. Exits 1 if any
query differs or is missing, else 0.
"""
import json
import sys


def load(path):
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                out[r["query"]] = (r["rows"], r["sha256"])
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    bad = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in b:
            print(f"MISSING in B: {q}")
        elif q not in a:
            print(f"MISSING in A: {q}")
        elif a[q] != b[q]:
            print(f"DIFFERS: {q}  A rows={a[q][0]} sha256={a[q][1]}  B rows={b[q][0]} sha256={b[q][1]}")
        else:
            continue
        bad += 1
    same = sum(1 for q in a.keys() & b.keys() if a[q] == b[q])
    print(f"{same} identical, {bad} differing or missing (A {len(a)}, B {len(b)} queries)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
