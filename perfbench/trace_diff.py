#!/usr/bin/env python3
"""Attribute a change between two traced runs, from their trace files.

    python3 perfbench/trace_diff.py <A> <B>

A and B are trace files written by `run.py --trace 1`
(perfbench/.out/trace-<workload>-<seed>.json) or directories of them.
Traces are grouped by workload; with several traces of one workload on a
side, each figure is their median. For every workload present on both
sides it prints, per layer, the span count and self time (a span's
duration minus the part its child spans cover) and the B - A delta, then
every per-layer metric with its delta.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "trace-*.json"))) \
        if os.path.isdir(path) else [path]
    by = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        by.setdefault(t["workload"], []).append(t)
    return by


def self_times(spans):
    """Per layer: (span count, self seconds)."""
    covered = {}
    for s in spans:
        covered[s["parent"]] = covered.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        n, sec = out.get(s["layer"], (0, 0.0))
        own = s["end_ns"] - s["start_ns"] - covered.get(s["id"], 0)
        out[s["layer"]] = (n + 1, sec + own / 1e9)
    return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(traces):
    layers, metrics = {}, {}
    for t in traces:
        for layer, (n, sec) in self_times(t["spans"]).items():
            layers.setdefault(layer, ([], []))
            layers[layer][0].append(n)
            layers[layer][1].append(sec)
        for k, v in t["per_layer"].items():
            metrics.setdefault(k, []).append(v)
    return ({k: (med(ns), med(ss)) for k, (ns, ss) in layers.items()},
            {k: med(v) for k, v in metrics.items()})


def rel(a, b):
    return f"{(b - a) / a * 100:+.1f}%" if a else "n/a"


def main(a_path, b_path):
    a, b = load(a_path), load(b_path)
    for w in sorted(set(a) & set(b)):
        (la, ma), (lb, mb) = summarize(a[w]), summarize(b[w])
        print(f"== {w}  (A: {len(a[w])} trace(s), B: {len(b[w])} trace(s))")
        print(f"{'layer':<14}{'spans A':>9}{'spans B':>9}{'self_s A':>11}"
              f"{'self_s B':>11}{'delta_s':>10}{'delta':>9}")
        for layer in sorted(set(la) | set(lb)):
            na, sa = la.get(layer, (0, 0.0))
            nb, sb = lb.get(layer, (0, 0.0))
            print(f"{layer:<14}{na:>9g}{nb:>9g}{sa:>11.3f}{sb:>11.3f}"
                  f"{sb - sa:>+10.3f}{rel(sa, sb):>9}")
        print(f"{'metric':<30}{'A':>16}{'B':>16}{'delta':>16}{'':>9}")
        for k in sorted(set(ma) | set(mb)):
            va, vb = ma.get(k, 0.0), mb.get(k, 0.0)
            print(f"{k:<30}{va:>16.6g}{vb:>16.6g}{vb - va:>+16.6g}{rel(va, vb):>9}")
    for w in sorted(set(a) ^ set(b)):
        print(f"== {w}: only in {'A' if w in a else 'B'}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
