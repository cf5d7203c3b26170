#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness on first
use (perfbench/build.py), runs one workload in one JVM, checks its outputs
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans of the run are
written to perfbench/.out/trace-<workload>-<seed>.json (see README.md).
Everything the run writes stays under perfbench/.work and perfbench/.out.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_drain", "cdc_tail", "train_build", "serve_mix")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    bench = spec()
    cp = build.build(quiet=True)

    cpus = os.cpu_count() or 1
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.scheduler.mode=FAIR",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/derby",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--work", work,
        "--refs", os.path.join(HERE, "refs", "results.json"),
        "--result", result, "--trace-out", trace_out,
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    log = os.path.join(out_dir, f"{args.workload}-{args.seed}.log")
    try:
        with open(log, "w") as err:
            rc = subprocess.run(cmd, stdout=err, stderr=err, cwd=work).returncode
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"run: the {args.workload} run failed (code {rc}); log {log}")
        with open(result) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    have = r["layer"] if args.trace else r["e2e"]
    metrics = {}
    for m in names:
        if m["name"] not in have and not args.trace:
            raise SystemExit(f"run: {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": have.get(m["name"], 0.0), "unit": m["unit"]}
    for n in r["notes"]:
        print(f"note: {n}")
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
