#!/usr/bin/env python3
"""Diff Spark job counts per module between two traced-run artifacts.

    python3 perfbench/jobdiff.py BEFORE.json AFTER.json

Each artifact is what `run.py --trace 1` writes under perfbench/out/.
Job counts are deterministic for a workload and seed, so two commits can
be compared without timing noise: run the same workload and seed on
each, then diff. Compares every per-layer job count (`*jobs_per_batch`,
`*.jobs`, `*.jobs_per_query`) and task count (`*.tasks`), and the jobs the
trace hung under each module.
"""
import json
import sys


def counts(path):
    a = json.load(open(path))
    out = {k: v["value"] for k, v in a["per_layer"].items()
           if "jobs" in k.split(".")[-1] or k.endswith(".tasks")}
    out.update({f"trace.jobs.{m}": n for m, n in a.get("jobs_by_module", {}).items()})
    return a["workload"], a["seed"], out


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (wa, sa, before), (wb, sb, after) = counts(argv[0]), counts(argv[1])
    if (wa, sa) != (wb, sb):
        print(f"warning: comparing {wa} seed {sa} with {wb} seed {sb}", file=sys.stderr)
    keys = sorted(set(before) | set(after))
    changed = 0
    print(f"{'metric':44} {'before':>10} {'after':>10} {'delta':>10}")
    for k in keys:
        b, a = before.get(k, 0), after.get(k, 0)
        changed += b != a
        print(f"{k:44} {b:>10g} {a:>10g} {a - b:>+10g}{'' if b == a else '  *'}")
    print(f"{changed} of {len(keys)} counts changed")
    return 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
