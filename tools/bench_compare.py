#!/usr/bin/env python3
"""Compare two BENCH_QUERIES.json files: per-query min_ms ratios.

Usage: bench_compare.py OLD NEW [topN]
Prints summary stats (sum, median ratio) over common queries and the
largest drifts both ways — the round-history adjudication view. When both
files carry per-pass `layers` records, each listed drift also shows the
Spark jobs (build + action) of its fastest pass, old -> new.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)["queries"]


def mins(qs):
    return {k: v["min_ms"] for k, v in qs.items() if v["min_ms"] >= 0}


def jobs(qs):
    """Build + action jobs of each query's fastest pass, or None when the
    file has no layers records."""
    if not any("layers" in v for v in qs.values()):
        return None
    out = {}
    for k, v in qs.items():
        if "layers" in v and v["min_ms"] >= 0:
            rec = v["layers"][v["passes_ms"].index(v["min_ms"])]
            out[k] = rec["build_jobs"] + rec["action_jobs"]
    return out


def main():
    old_qs, new_qs = load(sys.argv[1]), load(sys.argv[2])
    old, new = mins(old_qs), mins(new_qs)
    old_jobs, new_jobs = jobs(old_qs), jobs(new_qs)

    top = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    common = sorted(set(old) & set(new))
    ratios = {k: (new[k] / old[k] if old[k] > 0 else float("inf"))
              for k in common}

    def drift(k):
        line = f"  {k:32s} {old[k]:>7d} -> {new[k]:>7d} ms  x{ratios[k]:.2f}"
        if old_jobs is not None and new_jobs is not None:
            line += f"  jobs {old_jobs.get(k, '?')} -> {new_jobs.get(k, '?')}"
        return line

    print(f"common queries: {len(common)}")
    print(f"old sum {sum(old[k] for k in common)/1000:.1f}s  "
          f"new sum {sum(new[k] for k in common)/1000:.1f}s")
    print(f"median ratio {statistics.median(ratios.values()):.3f}")
    print("\nbiggest slowdowns:")
    for k in sorted(common, key=lambda k: -ratios[k])[:top]:
        print(drift(k))
    print("\nbiggest speedups:")
    for k in sorted(common, key=lambda k: ratios[k])[:top]:
        print(drift(k))
    only_new = sorted(set(new) - set(old))
    if only_new:
        print(f"\nnew-only: {[(k, new[k]) for k in only_new]}")


if __name__ == "__main__":
    main()
