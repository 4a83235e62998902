#!/usr/bin/env python3
"""Diff the deterministic plan and job maps of two graft.Bench runs.

Reads the `plan` and `job` maps of two `target/bench_diag.json` files
(or BENCH_LOCAL.json files, which carry the same maps) and prints every
query whose exchange count, shuffle rows, job count or task shuffle
records differ, or that only one run measured. These counts are a
function of (code, data), so two runs of the same work at the same sf
must agree exactly; wall-clock seconds are not compared.

Usage: python3 scripts/plan_diff.py A B
Exit status: 0 when the maps agree, 1 on any difference.
"""
import json
import sys

# (map, field) pairs compared per query
FIELDS = [("plan", "exchanges"), ("plan", "shuffle_rows"),
          ("job", "jobs"), ("job", "task_shuffle_records")]


def load(path):
    with open(path) as f:
        d = json.load(f)
    return {m: d.get(m) or {} for m in ("plan", "job")}


def diff(a, b):
    """Lines naming each query whose compared counts differ."""
    out = []
    names = sorted(set(a["plan"]) | set(b["plan"]) | set(a["job"]) | set(b["job"]))
    for q in names:
        msgs = []
        for m, field in FIELDS:
            va = a[m].get(q, {}).get(field)
            vb = b[m].get(q, {}).get(field)
            if va != vb:
                msgs.append(f"{field} {va}->{vb}")
        if msgs:
            out.append(f"{q}: {', '.join(msgs)}")
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    lines = diff(a, b)
    for line in lines:
        print(line)
    n = len(set(a["plan"]) | set(b["plan"]))
    print(f"{len(lines)} of {n} queries differ", file=sys.stderr)
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
