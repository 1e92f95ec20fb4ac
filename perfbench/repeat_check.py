#!/usr/bin/env python3
"""Counter-repeatability check for the benchmark itself.

    python3 perfbench/repeat_check.py --workload grep_scan [--seed 7] [--seconds 10]

Runs two traced runs with one seed and requires the load-independent
counters of their first timed pass to be identical: jobs, stages, eager
jobs and jobs per operation, shuffle records, output rows and bytes
written, index bytes. spark.tasks is reported but not required to match:
adaptive query execution sizes partitions from runtime statistics, so the
task count of a stage can move by a few between runs. Exit status 1 on
any mismatch. Run from the root of a checkout.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload, seed, seconds, detail):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1", "--detail", detail]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(detail) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    out = os.path.join(".bench_build", "results")
    os.makedirs(out, exist_ok=True)
    runs = [traced_run(args.workload, args.seed, args.seconds,
                       os.path.join(out, f"repeat-{args.workload}-s{args.seed}-{i}.json")) for i in (1, 2)]
    a, b = (r["repeatable_counters"] for r in runs)
    bad = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    for k in sorted(set(a) | set(b)):
        print(f"  {k:<42} {a.get(k)!s:>14} {b.get(k)!s:>14} {'MISMATCH' if k in bad else ''}")
    ta, tb = (r["per_layer"]["spark.tasks"] for r in runs)
    print(f"  {'spark.tasks (not required to match)':<42} {ta!s:>14} {tb!s:>14}")
    print(f"{args.workload} seed {args.seed}: {len(a) - len(bad)}/{len(a)} counters identical")
    sys.exit(1 if bad or not a else 0)


if __name__ == "__main__":
    main()
