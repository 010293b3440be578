#!/usr/bin/env python3
"""Compare two sets of benchmark results, for example a parent commit (A)
and a change (B):

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds the result files run.py writes (.bench_results/ by
default). For every workload and end-to-end metric the tool prints both
medians and quartiles and a verdict:

  improved    B is better, at least ten runs are paired by seed, B wins at
              least 9 of 10 of them (ties count for neither side), and the
              medians differ by more than A's quartile distance;
  regressed   B's median is worse than A's by more than the metric's bound;
  unresolved  not regressed, but A's or B's spread (quartile distance over
              median) is wider than the bound and B does not read better
              than A on every run;
  unchanged   otherwise.

Traced results get one row per workload and per-layer metric with the
medians and the relative change, without a verdict.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{(workload, trace): {seed: {metric: value}}}"""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        vals = {k: v["value"] for k, v in r["reported"].items()}
        out.setdefault((r["workload"], int(r["trace"])), {})[r["seed"]] = vals
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, pairs, better, bound):
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    sign = 1 if better == "lower" else -1
    worse = sign * (mb - ma) / ma if ma else 0.0
    b_better = sign * (mb - ma) < 0
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    ties = sum(1 for x, y in pairs if x == y)
    spread = max((qa[2] - qa[0]) / ma if ma else 0.0, (qb[2] - qb[0]) / mb if mb else 0.0)
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if b_better and len(pairs) >= 10 and wins >= 0.9 * (len(pairs) - ties) and abs(mb - ma) > qa[2] - qa[0]:
        return "improved"
    if worse > bound:
        return "regressed"
    if spread > bound and not all_better:
        return "unresolved"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    A, B = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<15} {'metric':<26} {'A q1/med/q3':>32} {'B q1/med/q3':>32} {'B/A':>7}  verdict")
    for w in spec["workloads"]:
        a_runs, b_runs = A.get((w["name"], 0), {}), B.get((w["name"], 0), {})
        if not a_runs or not b_runs:
            print(f"{w['name']:<15} (no untraced results on one side)")
            continue
        seeds = sorted(set(a_runs) & set(b_runs))
        for m in spec["end_to_end"]:
            n = m["name"]
            a = [r[n] for r in a_runs.values()]
            b = [r[n] for r in b_runs.values()]
            pairs = [(a_runs[s][n], b_runs[s][n]) for s in seeds]
            qa, qb = quartiles(a), quartiles(b)
            v = verdict(a, b, pairs, m["better"], m["bound"])
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"{w['name']:<15} {n:<26} {fmt(qa):>32} {fmt(qb):>32} {ratio:>7.3f}  {v}")
    print()
    print(f"{'workload':<15} {'per-layer metric':<30} {'A median':>12} {'B median':>12} {'change':>8}")
    for w in spec["workloads"]:
        a_runs, b_runs = A.get((w["name"], 1), {}), B.get((w["name"], 1), {})
        if not a_runs or not b_runs:
            continue
        for m in spec["per_layer"]:
            n = m["name"]
            ma = statistics.median(r[n] for r in a_runs.values())
            mb = statistics.median(r[n] for r in b_runs.values())
            if ma == 0 and mb == 0:
                continue
            change = f"{(mb - ma) / ma:+.1%}" if ma else "new"
            print(f"{w['name']:<15} {n:<30} {ma:>12.4g} {mb:>12.4g} {change:>8}")


if __name__ == "__main__":
    main()
