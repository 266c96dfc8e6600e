#!/usr/bin/env python3
"""Compare two sets of benchmark results, such as parent and change.

    python3 perfbench/compare.py <resultsA> <resultsB>

Each argument is a directory searched recursively for the result files
run.py writes (perfbench/results/<workload>/*.json); untraced runs only.
Copy each side's results aside before running the other side.

For every workload it prints one row. For each end-to-end metric of
BENCHMARK.json, and each ungated one run.py records (query_p50_s), it
gives each side's median and quartiles, the share of pairs B won
(pairs matched by seed, ties counting for neither), the relative change
of the median and the metric's bound, and a verdict:

  regression  B's median is worse than A's by more than the bound;
  gain        B won at least nine tenths of the pairs and the medians
              differ by more than A's own quartile spread;
  unresolved  either side's quartile spread, as a share of its median,
              is wider than the bound, unless every run of B beat every
              run of A;
  within      otherwise;
  not gated   for the ungated metrics.

It also prints each side's query latency tail over all its runs pooled,
and every change in fail_frac. It refuses results with different cpus
or scale factors.
"""
import glob
import json
import os
import statistics
import sys

from run import tail_of

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        try:
            r = json.load(open(f))
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and "metrics" in r and r.get("trace") == 0:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pooled_tail(runs):
    xs = [q["build_s"] + q["drain_s"] for r in runs for p in r["raw"]["passes"]
          for q in p["queries"] if not q["error"]]
    return tail_of(xs) + (len(xs),) if len(xs) > 10 else None


def verdict(a, b, better, bound):
    """a, b: (seed, value) per run."""
    sign = 1 if better == "lower" else -1
    va, vb = [v for _, v in a], [v for _, v in b]
    qa, qb = quartiles(va), quartiles(vb)
    by_seed_a = {}
    for seed, v in a:
        by_seed_a.setdefault(seed, v)
    pairs = [(by_seed_a[s], v) for s, v in b if s in by_seed_a]
    if not pairs:
        pairs = list(zip(va, vb))
    won = sum(1 for x, y in pairs if sign * (y - x) < 0)
    change = sign * (qb[1] - qa[1]) / qa[1]
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    b_beats_all = max(sign * y for y in vb) < min(sign * x for x in va)
    if bound is None:
        v = "not gated"
    elif change > bound:
        v = "regression"
    elif spread > bound and not b_beats_all:
        v = "unresolved"
    elif won >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        v = "gain"
    else:
        v = "within"
    return qa, qb, won, len(pairs), change, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    sides = [load(p) for p in sys.argv[1:]]
    for name, runs in zip("AB", sides):
        if not runs:
            sys.exit(f"side {name}: no untraced result files")
    for key in ["cpus", "sf"]:
        seen = {r[key] for runs in sides for r in runs}
        if len(seen) > 1:
            sys.exit(f"refusing to compare results with different {key}: {sorted(seen)}")
    workloads = sorted({r["workload"] for runs in sides for r in runs})
    print(f"cpus {sides[0][0]['cpus']}, sf {sides[0][0]['sf']}; "
          f"A = {sys.argv[1]}, B = {sys.argv[2]}")
    for w in workloads:
        a = [r for r in sides[0] if r["workload"] == w]
        b = [r for r in sides[1] if r["workload"] == w]
        if not a or not b:
            print(f"{w}: only one side has runs")
            continue
        cells = []
        gated = [m["name"] for m in bench["end_to_end"]]
        for m in bench["end_to_end"] + [
                {"name": k, "unit": "s", "better": "lower", "bound": None}
                for k in a[0]["metrics"] if k not in gated]:
            k = m["name"]
            qa, qb, won, n, change, v = verdict(
                [(r["seed"], r["metrics"][k]) for r in a],
                [(r["seed"], r["metrics"][k]) for r in b], m["better"], m["bound"])
            cells.append(f"{k} {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] -> {qb[1]:.4g} "
                         f"[{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']}, B won {won}/{n}, "
                         f"{100 * change:+.1f}% worse"
                         + (f" (bound {100 * m['bound']:.0f}%)" if m["bound"] else "")
                         + f": {v}")
        print(f"{w} ({len(a)} vs {len(b)} runs): " + "; ".join(cells))
        tails = [pooled_tail(x) for x in (a, b)]
        if all(tails):
            print(f"  pooled query tail: A p{tails[0][0]} {tails[0][1]:.4g} s of {tails[0][2]}, "
                  f"B p{tails[1][0]} {tails[1][1]:.4g} s of {tails[1][2]}")
        fa = statistics.mean(r["fail_frac"] for r in a)
        fb = statistics.mean(r["fail_frac"] for r in b)
        if fa != fb:
            failed = sorted({q for r in b for q in r["mismatched"]})
            print(f"  fail_frac changed: {fa:.4f} -> {fb:.4f}; B output check failures: {failed}")


if __name__ == "__main__":
    main()
