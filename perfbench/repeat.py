"""Run the benchmark repeatedly and keep each run's result line.

    python3 perfbench/repeat.py OUT_DIR [--runs 10] [--first-seed 1]
                                [--workloads a,b] [--trace 0|1]

Runs ``perfbench/run.py`` once per seed for every workload of
``BENCHMARK.json`` (one run at a time, from the checkout root) and
writes each result line to ``OUT_DIR/<workload>/seed-<n>.json``; runs
that print no result are reported and skipped. ``compare.py`` reads two
such directories.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = [n for n in names if n in args.workloads.split(",")]
    bad = 0
    for name in names:
        os.makedirs(os.path.join(args.out_dir, name), exist_ok=True)
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = bench["command"] + ["--workload", name, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                bad += 1
                print(f"{name} seed {seed}: exit {proc.returncode}, no result "
                      f"({proc.stderr.strip().splitlines()[-1:]})", file=sys.stderr)
                continue
            with open(os.path.join(args.out_dir, name, f"seed-{seed}.json"), "w") as f:
                f.write(lines[-1] + "\n")
            print(f"{name} seed {seed}: {wall:.1f}s wall {lines[-1]}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
