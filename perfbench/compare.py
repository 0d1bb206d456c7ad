#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one set.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py RUNS_DIR

With one directory it prints each metric's spread (IQR / median) and
exits non-zero if one is over its bound; setup_s's spread is printed but
not gated, as in the benchmark's acceptance rule.

Each directory holds the result files `run.py --save DIR` wrote (one JSON
file per run; untraced runs only are read). Runs of the two sets are
paired by workload and seed.

For every (workload, end-to-end metric) the comparison prints each side's
median and quartiles, the share of pairs the change won, and a verdict:

  improved    the change won at least 9/10 of the pairs (ties count for
              neither side) and the medians differ by more than the
              parent's interquartile range
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  unresolved  neither, and the parent's own spread (IQR / median) is
              wider than the bound, unless every change run beats every
              parent run
  unchanged   otherwise
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r["context"].get("trace") in (1, "1"):
            continue
        key = (r["context"]["workload"], str(r["context"]["seed"]))
        runs[key] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def series(runs, workload, metric):
    return {seed: r["metrics"][metric]["value"]
            for (w, seed), r in runs.items()
            if w == workload and metric in r["metrics"]}


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = [load(d) for d in sys.argv[1:]]
    workloads = sorted({w for s in sets for (w, _) in s})
    bad = False
    for w in workloads:
        print(f"== {w}")
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            a = series(sets[0], w, name)
            if not a:
                continue
            qa = quartiles(list(a.values()))
            spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
            line = (f"  {name:<24} A {qa[1]:>12.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                    f" n={len(a)} spread={spread_a:.3f} (bound {bound})")
            if len(sets) == 1:
                # setup_s's spread is reported but not gated, as in the
                # benchmark's acceptance rule; its median still is
                if name == "setup_s":
                    print(line + "  (spread not gated)")
                    continue
                over = spread_a > bound
                bad |= over
                print(line + ("  OVER BOUND" if over else ""))
                continue
            b = series(sets[1], w, name)
            if not b:
                print(line + "  (no runs in second set)")
                continue
            qb = quartiles(list(b.values()))
            better = (lambda x, y: y < x) if lower else (lambda x, y: y > x)
            seeds = sorted(set(a) & set(b))
            wins = sum(better(a[s], b[s]) for s in seeds)
            ties = sum(a[s] == b[s] for s in seeds)
            share = wins / len(seeds) if seeds else 0.0
            gain = (qa[1] - qb[1]) / qa[1] if lower else (qb[1] - qa[1]) / qa[1]
            if share >= 0.9 and gain > 0 and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                verdict = "improved"
            elif gain < -bound:
                verdict = "worse"
            elif spread_a > bound and not all(
                    better(x, y) for x in a.values() for y in b.values()):
                verdict = "unresolved"
            else:
                verdict = "unchanged"
            bad |= verdict == "worse"
            print(line)
            print(f"  {'':<24} B {qb[1]:>12.4f} [{qb[0]:.4f}, {qb[2]:.4f}] "
                  f"n={len(b)} won {wins}/{len(seeds)} pairs ({share:.0%}, "
                  f"{ties} ties) change {100 * gain:+.1f}% -> {verdict}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
