#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark runs.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run outputs as series.py writes them
(<workload>-seed<N>-trace0.out). Runs pair up by workload and seed. For every
workload and end-to-end metric the script prints both medians and quartiles,
the pairs the change won, the failed-operation share of each side, and a
verdict by the rule of the choosing-metrics guide, section 8:

  improved    the change wins at least 9 in 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's own quartile spread is wider than the bound, so
              "no worse" cannot be told from noise (unless every change run
              beats every parent run)
  no worse    otherwise: within the bound
"""
import json
import os
import re
import statistics
import sys

sys.dont_write_bytecode = True
import common  # noqa: E402
from series import load  # noqa: E402


def runs(d):
    """{workload: {seed: result}} of the untraced runs in `d`."""
    out = {}
    for f in sorted(os.listdir(d)):
        m = re.fullmatch(r"(.+)-seed(\d+)-trace0\.out", f)
        r = load(os.path.join(d, f)) if m else None
        if r:
            out.setdefault(m.group(1), {})[int(m.group(2))] = r
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(a, b, bound, higher):
    """a, b: paired values (parent, change)."""
    sign = 1 if higher else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    gain = sign * (mb - ma)
    if wins >= 0.9 * len(a) and gain > (qa3 - qa1):
        return wins, "improved"
    if -gain > bound * ma:
        return wins, "worse"
    all_better = min(b) > max(a) if higher else max(b) < min(a)
    if (qa3 - qa1) > bound * ma and not all_better:
        return wins, "unresolved"
    return wins, "no worse within bound"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(common.ROOT, "BENCHMARK.json")))
    pa, pb = runs(sys.argv[1]), runs(sys.argv[2])
    print("| workload | metric | parent median [q1, q3] | change median [q1, q3] "
          "| change wins | failed ops parent / change | verdict |")
    print("|---|---|---|---|---|---|---|")
    for w in sorted(set(pa) & set(pb)):
        seeds = sorted(set(pa[w]) & set(pb[w]))
        if not seeds:
            continue

        def failed(side):
            att = sum(side[w][s]["attempted"] for s in seeds)
            return sum(side[w][s]["failed"] for s in seeds) / max(1, att)

        for m in spec["end_to_end"]:
            # a run that could not measure a metric leaves it out
            both = [s for s in seeds if m["name"] in pa[w][s]["metrics"]
                    and m["name"] in pb[w][s]["metrics"]]
            if not both:
                continue
            a = [pa[w][s]["metrics"][m["name"]]["value"] for s in both]
            b = [pb[w][s]["metrics"][m["name"]]["value"] for s in both]
            wins, v = verdict(a, b, m["bound"], m["better"] == "higher")
            (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
            print(f"| {w} | {m['name']} ({m['unit']}) | {am:.4g} [{a1:.4g}, {a3:.4g}] "
                  f"| {bm:.4g} [{b1:.4g}, {b3:.4g}] | {wins}/{len(both)} "
                  f"| {failed(pa):.2%} / {failed(pb):.2%} | {v} |")


if __name__ == "__main__":
    main()
