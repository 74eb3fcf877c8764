#!/usr/bin/env python3
"""Summarise one set of benchmark runs, or compare two.

Usage, from the repository root:

    python3 perfbench/compare.py SET_A            # spread of each metric
    python3 perfbench/compare.py SET_A SET_B      # B (change) against A (parent)

A set is a directory of <workload>.jsonl files written by sweep.py. For
each workload and metric it prints the median and quartiles of each set
(statistics.quantiles, n=4) and the spread: the quartile distance as a
share of the median.

With one set, a metric is "steady" when its spread is at most a third of
its BENCHMARK.json bound, "ok" within the bound, and "WIDE" beyond it.

With two sets, the verdict for an end-to-end metric is:
  better      B wins at least 9 of 10 pairs (pairs are matched by seed,
              ties count for neither) and the medians differ by more than
              A's quartile distance;
  WORSE       B's median is worse than A's by more than the bound;
  unresolved  either set's spread exceeds the bound (unless every run of
              B is better than every run of A);
  same        otherwise.
Per-layer metrics have no bound; they get the median change and the pair
count only.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    runs = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".jsonl"):
            with open(os.path.join(path, name)) as f:
                for line in f:
                    r = json.loads(line)
                    runs.setdefault(r["workload"], []).append(r)
    return runs


def values(runs, metric):
    """(seed, value) of each run that measured `metric`."""
    return sorted((r["seed"], r["result"]["metrics"][metric]["value"])
                  for r in runs if metric in r["result"]["metrics"])


def summary(vals):
    if len(vals) < 2:
        med = vals[0]
        return med, med, med, 0.0
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def fmt(x):
    return f"{x:.5g}"


def one_set(spec, runs):
    for w, rs in sorted(runs.items()):
        print(f"== {w}: {len(rs)} runs, "
              f"{sum(not r['result']['correct'] for r in rs)} incorrect")
        for m in spec["end_to_end"] + spec["per_layer"]:
            vals = [v for _, v in values(rs, m["name"])]
            if not vals:
                continue
            med, q1, q3, spread = summary(vals)
            bound = m.get("bound")
            if bound is None:
                tag = ""
            else:
                tag = ("steady" if spread <= bound / 3 else
                       "ok" if spread <= bound else "WIDE")
            print(f"  {m['name']:<30} {fmt(med):>11} [{fmt(q1)}, {fmt(q3)}] "
                  f"{m['unit']:<6} spread {100 * spread:5.1f}%"
                  + (f" of bound {100 * bound:.0f}% {tag}" if bound is not None else ""))


def verdict(m, a, b):
    """Verdict for metric spec `m`, given seed-sorted (seed, value) lists."""
    sign = 1 if m["better"] == "higher" else -1
    ma, q1a, q3a, sa = summary([v for _, v in a])
    mb, _, _, sb = summary([v for _, v in b])
    bs = dict(b)
    pairs = [(va, bs[s]) for s, va in a if s in bs] or list(zip(
        [v for _, v in a], [v for _, v in b]))
    wins = sum(sign * (vb - va) > 0 for va, vb in pairs)
    change = (mb - ma) / ma if ma else 0.0
    head = f"{fmt(ma):>11} -> {fmt(mb):>11} {100 * change:+6.1f}%  wins {wins}/{len(pairs)}"
    bound = m.get("bound")
    if bound is None:
        return head
    if wins >= 0.9 * len(pairs) and abs(mb - ma) > q3a - q1a:
        v = "better"
    elif sign * change < -bound:
        v = "WORSE"
    elif max(sa, sb) > bound and not all(
            sign * (vb - va) > 0 for _, va in a for _, vb in b):
        v = "unresolved"
    else:
        v = "same"
    return f"{head}  spread {100 * sa:.1f}%/{100 * sb:.1f}% bound {100 * bound:.0f}%  {v}"


def two_sets(spec, ra, rb):
    for w in sorted(set(ra) | set(rb)):
        if w not in ra or w not in rb:
            print(f"== {w}: only in {'A' if w in ra else 'B'}")
            continue
        print(f"== {w}: {len(ra[w])} runs (A) vs {len(rb[w])} runs (B)")
        for m in spec["end_to_end"] + spec["per_layer"]:
            a, b = values(ra[w], m["name"]), values(rb[w], m["name"])
            if a and b:
                print(f"  {m['name']:<30} {verdict(m, a, b)}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = [load(p) for p in sys.argv[1:]]
    if len(sets) == 1:
        one_set(spec, sets[0])
    else:
        two_sets(spec, *sets)


if __name__ == "__main__":
    main()
