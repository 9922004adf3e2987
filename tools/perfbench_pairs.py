#!/usr/bin/env python3
"""Run a benchmark workload in two checkouts, in alternating pairs, and judge
each metric.

Usage: perfbench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds T`
in both checkouts, the parent first in even pairs and the change first in
odd ones; T is BENCHMARK.json's `run_seconds`. Each run's last JSON line
gives its metrics. Every run is printed as it ends; then, for each metric
the runs reported, each side's median and quartiles, the change's wins and
ties over the pairs, and a verdict:

  gain        the change wins at least 9 in 10 pairs (ties count for
              neither), the medians differ by more than the parent's
              interquartile range, and no more ops failed than at the parent
  regression  the change's median is worse than the parent's by more than
              the metric's `bound` in BENCHMARK.json (a fraction of the
              parent's median)
  unresolved  neither, and a side's interquartile range exceeds the bound
              (as a fraction of its median), unless every run of the change
              reads better than every run of the parent
  within      neither, and the spread is inside the bound

A metric with no `bound` (the per-layer ones) reads gain or no gain; one
that BENCHMARK.json does not name is not judged. The tool only reads
BENCHMARK.json (CHANGE_DIR's); in each checkout only run.py writes.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

GAIN_SHARE = 0.9


def quartiles(xs):
    """(first quartile, median, third quartile), interpolated linearly."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(parent, change, better, bound=None, failed=(0, 0)):
    """Verdict on one metric from paired runs: `parent[i]` and `change[i]`
    ran with the same seed. `better` is "higher" or "lower"; `bound` the
    allowed worsening as a fraction of the parent's median, or None;
    `failed` the failed ops of (parent, change). Returns a dict of the
    figures and the verdict."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    ties = sum(1 for p, c in zip(parent, change) if c == p)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (cm - pm)  # > 0: the change is better
    gain = (wins >= math.ceil(GAIN_SHARE * len(parent)) and gap > p3 - p1
            and failed[1] <= failed[0])
    worse = -gap / abs(pm) if pm else (0.0 if gap >= 0 else math.inf)
    if gain:
        verdict = "gain"
    elif bound is None:
        verdict = "no gain"
    elif worse > bound:
        verdict = "regression"
    else:
        spread = max((p3 - p1) / abs(pm) if pm else 0.0,
                     (c3 - c1) / abs(cm) if cm else 0.0)
        all_better = all(sign * (c - p) > 0 for c in change for p in parent)
        verdict = "unresolved" if spread > bound and not all_better else "within"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "wins": wins,
            "ties": ties, "pairs": len(parent), "verdict": verdict}


def run(checkout, workload, seed, seconds):
    """One run.py run in `checkout`: its last JSON line, or None."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    print(f"  run failed in {checkout} (exit {p.returncode}): "
          f"{(p.stderr or p.stdout)[-500:]}", flush=True)
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()

    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run(sides[side], a.workload, seed, bench["run_seconds"])
            runs[side].append(res)
            if res is not None:
                shown = ", ".join(f"{k} {v['value']:.4g}"
                                  for k, v in sorted(res["metrics"].items()))
                print(f"pair {i} seed {seed} {side}: failed {res['failed']} "
                      f"of {res['attempted']}; {shown}", flush=True)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    lost = a.pairs - len(pairs)
    failed = tuple(sum(r["failed"] for r in side)
                   for side in zip(*pairs)) if pairs else (0, 0)
    print(f"\n{len(pairs)} complete pairs ({lost} lost to a failed run); "
          f"failed ops: parent {failed[0]}, change {failed[1]}")
    if not pairs:
        sys.exit(1)
    names = sorted(n for n in set.intersection(
        *(set(r["metrics"]) for pr in pairs for r in pr)) if n in spec)
    print(f"{'metric':34s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s}"
          f" {'wins':>6s} {'ties':>4s}  verdict")
    for name in names:
        j = judge([p["metrics"][name]["value"] for p, _ in pairs],
                  [c["metrics"][name]["value"] for _, c in pairs],
                  spec[name]["better"], spec[name].get("bound"), failed)
        parent, change = ("/".join(f"{x:.4g}" for x in j[side])
                          for side in ("parent", "change"))
        print(f"{name:34s} {parent:>26s} {change:>26s} "
              f"{j['wins']:>3d}/{j['pairs']:<2d} {j['ties']:>4d}  {j['verdict']}")

if __name__ == "__main__":
    main()
