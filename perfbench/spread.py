#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload query --seeds 101-110 [--trace 0] \
        [--seconds 10] [--jsonl runs.jsonl]

Run from the repository root. For every metric of the result lines it
prints the median, the first and third quartiles
(`statistics.quantiles(n=4)`) and the spread (q3 - q1) / median, beside
the metric's bound from BENCHMARK.json. `--jsonl` appends every run's
result line (with its seed, wall time and exit code) to a file.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="N or LO-HI")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--jsonl")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in (res or {}).get("metrics", {}).items())
        print(f"seed {seed}: rc={p.returncode} wall={wall:.0f}s "
              f"correct={res and res['correct']} failed={res and res['failed']} {shown}",
              flush=True)
        if args.jsonl:
            with open(args.jsonl, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "trace": args.trace, "rc": p.returncode,
                                     "wall_s": round(wall), "result": res}) + "\n")
        for k, m in (res or {}).get("metrics", {}).items():
            values.setdefault(k, []).append(m["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:<24} n={len(xs)} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={spread:.3f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
