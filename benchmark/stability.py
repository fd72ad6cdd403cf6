#!/usr/bin/env python3
"""Runs the benchmark on ten seeds per workload and reports, for every
end-to-end metric, the median and the spread (interquartile range as a share
of the median) next to the metric's bound. From the repository root:

    python3 benchmark/stability.py [--first-seed 1]

Every workload of BENCHMARK.json is run; the values land in
.bench_build/stability.json.

A metric is steady when its spread stays below a third of its bound
(setup_s is exempt from the spread rule; only its median must hold).
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

RUNS = 10


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    results, steady = {}, True
    for w in names:
        values, elapsed = {}, []
        for seed in range(args.first_seed, args.first_seed + RUNS):
            t0 = time.time()
            proc = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            elapsed.append(time.time() - t0)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                steady = False
                continue
            for name, m in json.loads(last)["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), file=sys.stderr)
        results[w] = {"values": values, "elapsed_s": elapsed}
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 4:
                continue
            sp = metrics.spread(xs)
            ok = m["name"] == "setup_s" or sp < m["bound"] / 3
            steady &= ok
            print(f"{w:16s} {m['name']:12s} median {metrics.median(xs):12.5g} "
                  f"spread {sp:7.4f} bound/3 {m['bound'] / 3:.4f} {'ok' if ok else 'UNSTEADY'}")
        print(f"{w:16s} run time median {metrics.median(elapsed):.1f} s, max {max(elapsed):.1f} s")
    os.makedirs(".bench_build", exist_ok=True)
    with open(os.path.join(".bench_build", "stability.json"), "w") as f:
        json.dump(results, f, indent=1)
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
