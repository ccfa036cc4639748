#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end metrics, per workload.

  python3 perfbench/trace_overhead.py [--seeds 1,2,3] [--seconds 10] [workload ...]

For each workload and seed it runs the benchmark once untraced and once
traced (alternating which goes first), then prints the median of each
end-to-end metric on both sides and their difference. The traced run's
end-to-end values come from its trace file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    if not trace:
        return {k: v["value"] for k, v in json.loads(out.splitlines()[-1])["metrics"].items()}
    with open(os.path.join(".bench_build", "traces", "%s-%d.json" % (workload, seed))) as f:
        return json.load(f)["e2e"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    metrics = [m["name"] for m in spec["end_to_end"]]
    print("%-16s %-18s %12s %12s %12s" % ("workload", "metric", "untraced", "traced", "overhead"))
    for w in names:
        sides = {0: [], 1: []}
        for i, seed in enumerate(int(s) for s in a.seeds.split(",")):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                sides[trace].append(run(w, seed, a.seconds, trace))
        for m in metrics:
            u = statistics.median(r[m] for r in sides[0])
            t = statistics.median(r[m] for r in sides[1])
            print("%-16s %-18s %12.4f %12.4f %+11.1f%%" % (w, m, u, t, 100.0 * (t - u) / u))


if __name__ == "__main__":
    main()
