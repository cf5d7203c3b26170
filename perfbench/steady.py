#!/usr/bin/env python3
"""Steadiness runner: is the benchmark steady enough on this host?

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--traced 1]
                                [--seed-base 1000]

Runs every workload in two sets of --runs untraced runs, each run with its
own seed, then --traced traced runs. For each end-to-end metric and set it
prints the median, the quartiles (statistics.quantiles(n=4)) and the
spread (q3 - q1) / median, and whether the two sets agree within the
metric's bound from BENCHMARK.json: each spread (setup_s excepted) within
the bound, and the second median no worse than the first by more than the
bound. Tracing overhead is the traced runs' end-to-end values (from their
trace files) against the untraced median. nproc and the host-steal
seconds of /proc/stat are recorded beside every run; everything goes to
perfbench/.out/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def steal_seconds():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / 100.0 if len(cpu) > 8 else 0.0


def run(workload, seed, seconds, trace):
    s0, t0 = steal_seconds(), time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "rc": out.returncode, "wall_s": round(time.time() - t0, 2),
           "steal_s": round(steal_seconds() - s0, 2), "nproc": os.cpu_count()}
    lines = out.stdout.strip().splitlines()
    if out.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
    if trace:
        path = os.path.join(HERE, ".out", f"trace-{workload}-{seed}.json")
        if os.path.exists(path):
            with open(path) as f:
                rec["traced_end_to_end"] = json.load(f)["end_to_end"]
    print(json.dumps({k: v for k, v in rec.items() if k != "result"} |
                     {"correct": rec.get("result", {}).get("correct")}),
          file=sys.stderr)
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (0.0,) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--traced", type=int, default=1)
    p.add_argument("--seed-base", type=int, default=1000)
    args = p.parse_args()
    seconds = bench["run_seconds"]
    records, ok_all = [], True
    for w in args.workloads.split(","):
        sets = []
        for s in range(2):
            recs = [run(w, args.seed_base + 100 * s + i, seconds, 0)
                    for i in range(args.runs)]
            records += recs
            sets.append([r for r in recs if "result" in r])
        traced = [run(w, args.seed_base + 500 + i, seconds, 1)
                  for i in range(args.traced)]
        records += traced
        failed = sum(r["result"]["failed"] for st in sets for r in st)
        lost = 2 * args.runs - sum(len(st) for st in sets)
        print(f"== {w}: {lost} run(s) without result, {failed} failed op(s)")
        ok_all &= lost == 0 and failed == 0
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = []
            for st in sets:
                xs = [r["result"]["metrics"][name]["value"] for r in st]
                q1, md, q3 = quartiles(xs)
                stats.append((q1, md, q3, (q3 - q1) / md if md else float("inf")))
            (_, m1, _, sp1), (_, m2, _, sp2) = stats
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            agree = worse <= bound and (name == "setup_s" or (sp1 <= bound and sp2 <= bound))
            ok_all &= agree
            tr = [r["traced_end_to_end"][name] for r in traced
                  if name in r.get("traced_end_to_end", {})]
            over = f"{(statistics.median(tr) - m1) / m1 * 100:+.1f}%" if tr and m1 else "n/a"
            print(f"  {name:<18} set1 med {m1:12.4f} q1-q3 {stats[0][0]:.4f}-{stats[0][2]:.4f} "
                  f"spread {sp1:.3f} | set2 med {m2:12.4f} spread {sp2:.3f} | "
                  f"bound {bound} {'agree' if agree else 'DISAGREE'} | traced {over}")
    with open(os.path.join(HERE, ".out", "steady.json"), "w") as f:
        json.dump(records, f, indent=1)
    print("steady" if ok_all else "NOT steady")


if __name__ == "__main__":
    main()
