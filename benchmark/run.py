#!/usr/bin/env python3
"""The benchmark's one command. From the repository root:

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness when their sources changed (build.py),
runs the workload in one JVM at local[min(nproc, 4)], checks its outputs and
prints every metric by name with its unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (taken from
BENCHMARK.json). The spans of a traced run are written to
.bench_build/spans-<workload>-<seed>.json.

Exits 1 when an output check fails and 2 when the benchmark cannot run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("medallion_daily", "table_cdc", "curation_dedup")
DEADLINE_S = 175  # the whole command, build excluded
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def declared(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_jvm(root, classes, args, deadline):
    work = os.path.join(root, build.BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", os.pathsep.join([classes, build.spark_jars(root)]), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=max(10.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("workload JVM ran past the deadline")
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload JVM exited with {code}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        e2e_units, layer_units = declared(root)
        classes = build.ensure(root)
    except (OSError, KeyError, ValueError, build.BuildError) as e:
        fail(str(e))
    raw = run_jvm(root, classes, args, time.time() + DEADLINE_S)

    checks = raw["checks"]
    for msg in checks["messages"]:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    extras = metrics.workload_extras(raw)
    if args.trace:
        values = {**metrics.per_layer(raw), **extras}
        spans_path = os.path.join(root, build.BUILD_DIR,
                                  f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(metrics.span_records(raw), f)
        units = layer_units
    else:
        values = {**metrics.end_to_end(raw), **extras}
        units = e2e_units
    failed_ratio = checks["failed"] / max(1, checks["attempted"])
    print(f"workload {args.workload}  seed {args.seed}  cores {raw['cores']}  "
          f"iterations {len(raw['iterations'])}  rows/iteration {raw['rows_per_iteration']}")
    for name, value in sorted(values.items()):
        unit = units.get(name, "")
        print(f"  {name:34s} {fmt(value):>14s} {unit}")
    print(f"  {'failed_ratio':34s} {fmt(failed_ratio):>14s} ratio")
    result = {
        "correct": checks["failed"] == 0 and checks["attempted"] > 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": {name: {"value": values.get(name, 0), "unit": unit}
                    for name, unit in units.items()},
    }
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
