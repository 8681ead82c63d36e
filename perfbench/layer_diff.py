#!/usr/bin/env python3
"""Diff two sets of benchmark results layer by layer.

Usage: python3 perfbench/layer_diff.py BASE NEW

BASE and NEW are each a result file written by perfbench/run.py (under
.bench_build/results/) or a directory of them, e.g. the results of a
parent commit and of a change, copied aside. Per workload it prints the
end-to-end metrics first (median over the untraced runs), then the
per-layer self times and the other per-layer metrics (median over the
traced runs), each as `base -> new (ratio x, base n runs)`.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r:
            runs.setdefault((r["workload"], bool(r["trace"])), []).append(r)
    return runs


def medians(runs, key):
    vals = {}
    for r in runs:
        for k, v in r.get(key, {}).items():
            if isinstance(v, (int, float)) and v == v:
                vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def row(name, b, n, runs):
    ratio = f"{n / b:.3f}x" if b else "n/a"
    return f"  {name:32s} {b:14.4f} -> {n:14.4f}  ({ratio}, base {runs} runs)"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for workload in sorted({w for w, _ in base} | {w for w, _ in new}):
        print(f"== {workload}")
        b_runs, n_runs = base.get((workload, False), []), new.get((workload, False), [])
        if b_runs and n_runs:
            b, n = medians(b_runs, "metrics"), medians(n_runs, "metrics")
            print(" end to end")
            for k in sorted(set(b) & set(n)):
                print(row(k, b[k], n[k], len(b_runs)))
        b_runs, n_runs = base.get((workload, True), []), new.get((workload, True), [])
        if b_runs and n_runs:
            b, n = medians(b_runs, "layers"), medians(n_runs, "layers")
            keys = sorted(set(b) & set(n))
            print(" per-layer self time")
            for k in [k for k in keys if k.endswith(".self_ms")]:
                print(row(k, b[k], n[k], len(b_runs)))
            print(" per-layer metrics")
            for k in [k for k in keys if not k.endswith(".self_ms")]:
                print(row(k, b[k], n[k], len(b_runs)))


if __name__ == "__main__":
    main()
