#!/usr/bin/env python3
"""Compare benchmark detail records (the JSON files run.py writes under
.bench_build/results/).

    python3 perfbench/compare.py BASE.json NEW.json
        Refuses records from different workloads, core counts or input
        sizes. Prints counter deltas first, then seconds: a speed claim
        should name the counter that moved. Given one traced and one
        untraced record of the same seed, also prints the tracing overhead.

    python3 perfbench/compare.py --spread FILE...
        Median and quartile spread (Q3 - Q1 over the median) of every
        end-to-end metric over several records, the steadiness measure
        the benchmark's bounds are checked against.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def refuse_mismatch(a, b):
    problems = []
    if a["workload"] != b["workload"]:
        problems.append(f"workload {a['workload']} vs {b['workload']}")
    if a["env"]["nproc"] != b["env"]["nproc"]:
        problems.append(f"cpus {a['env']['nproc']} vs {b['env']['nproc']}")
    if a["inputs"] != b["inputs"]:
        diff = sorted(k for k in set(a["inputs"]) | set(b["inputs"])
                      if a["inputs"].get(k) != b["inputs"].get(k))
        problems.append("input sizes differ: " + ", ".join(
            f"{k} {a['inputs'].get(k)} vs {b['inputs'].get(k)}" for k in diff))
    if problems:
        print("refusing to compare: " + "; ".join(problems), file=sys.stderr)
        sys.exit(2)


def delta(x, y):
    if x == y:
        return "="
    if x == 0:
        return "new"
    return f"{(y - x) / x:+.1%}"


def rows(title, a, b, keys):
    keys = [k for k in keys if k in a or k in b]
    if not keys:
        return
    print(title)
    w = max(len(k) for k in keys)
    for k in keys:
        x, y = a.get(k, 0), b.get(k, 0)
        print(f"  {k:<{w}}  {x:>16.6g}  {y:>16.6g}  {delta(x, y)}")


def compare(pa, pb):
    a, b = load(pa), load(pb)
    refuse_mismatch(a, b)
    print(f"{a['workload']}: {pa} (seed {a['seed']}) -> {pb} (seed {b['seed']}), "
          f"{a['env']['nproc']} cpus")
    la, lb = a.get("per_layer", {}), b.get("per_layer", {})
    if la and lb:
        seconds = [k for k in la if k.endswith("_s") or k.endswith("utilization")]
        counters = [k for k in la if k not in seconds]
        rows("counters (first timed pass)", la, lb, counters)
        rows("per-layer seconds", la, lb, seconds)
    rows("end to end", a["end_to_end"], b["end_to_end"], list(a["end_to_end"]))
    rows("workload metrics",
         {k: v for k, v in a["workload_metrics"].items() if isinstance(v, (int, float))},
         {k: v for k, v in b["workload_metrics"].items() if isinstance(v, (int, float))},
         list(a["workload_metrics"]))
    if a["trace"] != b["trace"] and a["seed"] == b["seed"]:
        traced, plain = (a, b) if a["trace"] else (b, a)
        print("tracing overhead (traced over untraced, same seed)")
        for k in ("query_p50_s", "pass_s"):
            print(f"  {k}: {traced['end_to_end'][k] / plain['end_to_end'][k] - 1:+.1%}")


def spread(paths):
    recs = [load(p) for p in paths]
    names = list(recs[0]["end_to_end"])
    print(f"{len(recs)} records of {sorted({r['workload'] for r in recs})}")
    for k in names:
        vals = [r["end_to_end"][k] for r in recs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        rel = (q[2] - q[0]) / med if med else float("nan")
        print(f"  {k:<14} median {med:<14.6g} spread {rel:6.1%}  min {min(vals):.6g}  max {max(vals):.6g}")


def main():
    args = sys.argv[1:]
    if args[:1] == ["--spread"] and len(args) > 1:
        spread(args[1:])
    elif len(args) == 2:
        compare(*args)
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
