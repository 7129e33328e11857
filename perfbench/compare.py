#!/usr/bin/env python3
"""Compares two benchmark result files written by run.py
(`.bench_build/perfbench/results/<workload>-seed<n>-trace<t>.json`).

Usage: python3 perfbench/compare.py <before.json> <after.json>

Every result carries a host stamp: nproc, CPU model, JVM, machine and the
time of a fixed single-thread CPU canary. Results whose nproc, CPU, JVM or
machine differ are refused. The canary ratio is printed above the deltas:
the same host's speed drifts, so the reader can tell host speed from code
speed.
"""
import json
import sys


def host_diffs(a, b):
    keys = ("nproc", "cpu", "jvm", "machine")
    return [f"{k}: {a.get(k)} vs {b.get(k)}" for k in keys if a.get(k) != b.get(k)]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = (json.load(open(p)) for p in sys.argv[1:])
    if before["workload"] != after["workload"]:
        sys.exit(f"different workloads: {before['workload']} vs {after['workload']}")
    diffs = host_diffs(before["host"], after["host"])
    if diffs:
        sys.exit("refusing to compare results from different hosts:\n  " + "\n  ".join(diffs))
    ratio = after["host"]["canary_s"] / before["host"]["canary_s"]
    print(f"canary ratio after/before = {ratio:.3f}")
    for name, m in after["metrics"].items():
        if name in before["metrics"]:
            b, a = before["metrics"][name]["value"], m["value"]
            change = f"{(a - b) / b:+.1%}" if b else "n/a"
            print(f"{name:40s} {b:12.6g} -> {a:12.6g} {m['unit']:12s} {change}")


if __name__ == "__main__":
    main()
