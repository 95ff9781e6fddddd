#!/usr/bin/env python3
"""Steadiness report: compares two sets of benchmark runs.

    python3 perfbench/steadiness.py A.jsonl B.jsonl

Each file holds the runs of one set, one JSON object per line, as written
by `perfbench/repeat.py` (the benchmark's last output line plus the run's
workload, seed and per-pass walls). For every workload x end-to-end metric
it prints each set's median, quartiles and sample count, the inter-quartile
spread as a share of the median, and a verdict against the metric's bound
from BENCHMARK.json:

  agree       both spreads are within the bound and the two medians differ
              by no more than it, in either direction (two sets of the same
              code should not differ at all)
  unresolved  otherwise

It also prints the pass-to-pass drift within runs (each later pass's wall
relative to the run's first measured pass) and, per set, the drift of
`wall_s` from the first to the second half of its runs, so a session that
slows down while it runs is visible. Exit code 0 when every row agrees.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartiles, spread  # noqa: E402


def load(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"]}


def worse_by(a, b, better):
    """How much worse median `b` is than median `a`, as a share of `a`
    (negative when `b` is better)."""
    if not a:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def verdict(spec, va, vb):
    """(agree, spread A, spread B, signed shift of B's median against A's)."""
    bound = spec["bound"]
    sa, sb = spread(va), spread(vb)
    shift = worse_by(median(va), median(vb), spec["better"])
    ok = abs(shift) <= bound and sa <= bound and sb <= bound
    return ok, sa, sb, shift


def report(runs_a, runs_b, specs):
    ok_all = True
    workloads = sorted({r["workload"] for r in runs_a + runs_b})
    print(f"{'workload':14s} {'metric':14s} {'bound':>6s} "
          f"{'A median [q1,q3] n':>30s} {'B median [q1,q3] n':>30s} "
          f"{'spreadA':>8s} {'spreadB':>8s} {'B-A':>7s} verdict")
    for w in workloads:
        a = [r for r in runs_a if r["workload"] == w]
        b = [r for r in runs_b if r["workload"] == w]
        for name, spec in specs.items():
            va = [r["metrics"][name]["value"] for r in a if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
            if not va or not vb:
                continue
            ok, sa, sb, shift = verdict(spec, va, vb)
            ok_all &= ok
            qa, qb = quartiles(va), quartiles(vb)
            print(f"{w:14s} {name:14s} {spec['bound']:6.2f} "
                  f"{qa[1]:10.4g} [{qa[0]:.4g},{qa[2]:.4g}] {len(va):2d} "
                  f"{qb[1]:10.4g} [{qb[0]:.4g},{qb[2]:.4g}] {len(vb):2d} "
                  f"{sa:8.3f} {sb:8.3f} {shift:+7.3f} "
                  f"{'agree' if ok else 'unresolved'}")
        drift = [d for r in a + b for d in r.get("pass_drift", [])]
        if drift:
            q1, q2, q3 = quartiles(drift)
            print(f"{w:14s} pass drift vs first measured pass: median {q2:+.3f} "
                  f"[{q1:+.3f}, {q3:+.3f}] over {len(drift)} later passes")
        for tag, runs in (("A", a), ("B", b)):
            walls = [r["metrics"]["wall_s"]["value"] for r in runs
                     if "wall_s" in r["metrics"]]
            half = len(walls) // 2
            if half:
                shift = median(walls[half:]) / median(walls[:half]) - 1
                print(f"{w:14s} set {tag} wall_s drift, second half vs first half "
                      f"of its runs: {shift:+.3f}")
    return ok_all


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ok = report(load(sys.argv[1]), load(sys.argv[2]), bounds())
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
