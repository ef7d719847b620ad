#!/usr/bin/env python3
"""Checks that the Spark job counts of each query repeat exactly
between two traced runs of the same code and seed.

Usage (from the root of a checkout):

    python3 perfbench/repeat_check.py

It makes two traced runs each of `relational` and `ops_warm` with
`perfbench/run.py`, with the same seed, and compares `build.jobs` and
`write.jobs` per query, per traced pass, from the two trace files. It
prints each difference and exits with 1 if there is one.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("build.jobs", "write.jobs")
WORKLOADS = ("relational", "ops_warm")
SEED = 1
SECONDS = 10


def traced_run(workload):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(SEED),
                    "--seconds", str(SECONDS), "--trace", "1"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(HERE, ".work", f"trace-{workload}-{SEED}.json")) as fh:
        per_query = json.load(fh)["per_query"]
    return {(q, c): m[c] for q, m in per_query.items() for c in COUNTS}


def main():
    differ = 0
    for wl in WORKLOADS:
        first = traced_run(wl)
        second = traced_run(wl)
        for key in sorted(set(first) | set(second)):
            x, y = first.get(key), second.get(key)
            if x != y:
                differ += 1
                print(f"{wl} {key[0]} {key[1]}: {x} then {y}")
        print(f"{wl}: {len(first) // len(COUNTS)} queries, "
              f"{sum(1 for k in first if first[k] == second.get(k))} of "
              f"{len(first)} counts repeat exactly")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
