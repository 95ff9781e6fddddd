#!/usr/bin/env python3
"""Runs the benchmark repeatedly and collects one JSON line per run.

    python3 perfbench/repeat.py --out runs.jsonl --runs 10 --seed0 100 \
        --seconds 8 [--trace 0] workload [workload ...]

Run from the root of a checkout. Seeds are seed0, seed0+1, ...; each line
is the run's last output line plus `workload`, `seed`, `pass_drift` (from
the run's summary) and `elapsed_s`. Feed two such files to steadiness.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    for i in range(a.runs):
        for w in a.workloads:
            seed = a.seed0 + i
            t0 = time.perf_counter()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            elapsed = time.perf_counter() - t0
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)
                continue
            rec = json.loads(lines[-1])
            summary = os.path.join(ROOT, ".bench_build", "results",
                                   f"{w}-seed{seed}-trace{a.trace}.summary.json")
            with open(summary) as fh:
                rec["pass_drift"] = json.load(fh)["pass_drift"]
            rec.update(workload=w, seed=seed, elapsed_s=elapsed)
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items())
            print(f"{w} seed {seed} ({elapsed:.0f} s, correct={rec['correct']}): {vals}",
                  flush=True)


if __name__ == "__main__":
    main()
