#!/usr/bin/env python3
"""Compare two sets of graft benchmark runs.

    python3 perfbench/compare.py BASE NEW [--bench BENCHMARK.json]

BASE and NEW are directories of run records, as perfbench/run.py writes
them under .bench_build/results/. Untraced (--trace 0) runs only.

For each workload and end-to-end metric it prints each side's median and
quartiles (statistics.quantiles, n=4), the share of pairs the new side wins
(runs paired by seed where both sides have it, else in order; ties count for
neither), and a verdict:

  gain        new wins >= 9/10 of the pairs and the medians differ by more
              than the base's own quartile spread
  regression  the new median is worse than the base median by more than the
              metric's bound from BENCHMARK.json
  unresolved  a side's quartile spread exceeds the bound, unless every new
              run beats every base run
  same        none of the above
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict


def load_runs(path):
    """{workload: [(seed, {metric: value})]} from a directory of run records."""
    runs = defaultdict(list)
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f)) as fh:
            rec = json.load(fh)
        if rec.get("trace") or rec.get("corrupt"):
            continue
        runs[rec["workload"]].append(
            (rec.get("seed"), {k: v["value"] for k, v in rec["end_to_end"].items()}))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(base, new):
    bs = {s: m for s, m in base if s is not None}
    ns = {s: m for s, m in new if s is not None}
    common = sorted(set(bs) & set(ns))
    if common:
        return [(bs[s], ns[s]) for s in common]
    return list(zip([m for _, m in base], [m for _, m in new]))


def verdict(base_vals, new_vals, paired, better, bound):
    sign = 1 if better == "higher" else -1
    bq1, bmed, bq3 = quartiles(base_vals)
    nq1, nmed, nq3 = quartiles(new_vals)
    wins = sum(1 for b, n in paired if sign * (n - b) > 0)
    share = wins / len(paired) if paired else 0.0
    spread_b = (bq3 - bq1) / abs(bmed) if bmed else 0.0
    spread_n = (nq3 - nq1) / abs(nmed) if nmed else 0.0
    worse = sign * (bmed - nmed) / abs(bmed) if bmed else 0.0
    all_better = all(sign * (n - b) > 0 for b in base_vals for n in new_vals)
    if paired and share >= 0.9 and abs(nmed - bmed) > (bq3 - bq1):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif max(spread_b, spread_n) > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return (bmed, bq1, bq3, nmed, nq1, nq3, share, spread_b, spread_n, v)


def main(argv):
    ap = argparse.ArgumentParser(description="compare two sets of graft benchmark runs")
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                   "..", "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.bench) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, new = load_runs(a.base), load_runs(a.new)
    bad = 0
    for w in sorted(set(base) & set(new)):
        paired = pairs(base[w], new[w])
        print(f"== {w}: {len(base[w])} base runs, {len(new[w])} new runs, {len(paired)} pairs")
        print(f"{'metric':14s} {'base median [q1, q3]':>30s} {'new median [q1, q3]':>30s}"
              f" {'won':>5s} {'spread b/n':>11s}  verdict")
        for name, m in spec.items():
            bv = [r[name] for _, r in base[w] if name in r]
            nv = [r[name] for _, r in new[w] if name in r]
            if not bv or not nv:
                continue
            pv = [(b[name], n[name]) for b, n in paired if name in b and name in n]
            bmed, bq1, bq3, nmed, nq1, nq3, share, sb, sn, v = verdict(
                bv, nv, pv, m["better"], m["bound"])
            bad += v == "regression"
            print(f"{name:14s} {bmed:12.5g} [{bq1:.4g}, {bq3:.4g}]".ljust(46) +
                  f"{nmed:12.5g} [{nq1:.4g}, {nq3:.4g}]".ljust(32) +
                  f"{share:5.0%} {sb:5.1%}/{sn:5.1%}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
