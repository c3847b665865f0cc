#!/usr/bin/env python3
"""Run one workload several times, one seed each, and keep every result.

    python3 perfbench/series.py --workload W --seeds 1-10 --out DIR \
        [--seconds S] [--trace 0|1]

Each run's stdout goes to DIR/<workload>-seed<N>-trace<T>.out; its last line
is the run's result object. The last lines print, for each end-to-end metric,
the median of the runs and the spread between their quartiles as a share of
that median (the steadiness figure BENCHMARK.json's bounds are checked
against). compare.py reads two such directories.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
import common  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(path):
    """The result object of one run (its last stdout line)."""
    lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(common.ROOT, "BENCHMARK.json")))
    secs = a.seconds or spec["run_seconds"]
    os.makedirs(a.out, exist_ok=True)
    results = []
    for s in seeds(a.seeds):
        path = os.path.join(a.out, f"{a.workload}-seed{s}-trace{a.trace}.out")
        with open(path, "w") as fh:
            rc = subprocess.call(
                [sys.executable, os.path.join(common.HERE, "run.py"),
                 "--workload", a.workload, "--seed", str(s),
                 "--seconds", str(secs), "--trace", str(a.trace)],
                stdout=fh, stderr=subprocess.DEVNULL, cwd=common.ROOT)
        r = load(path)
        print(f"seed {s}: exit {rc}, " + (json.dumps(r) if r else "no result"),
              flush=True)
        if r:
            results.append(r)
    if len(results) >= 2 and not a.trace:
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results
                    if m["name"] in r["metrics"]]
            if len(vals) < 2:
                continue
            med, sp = spread(vals)
            print(f"{a.workload} {m['name']}: median {med:.6g} {m['unit']}, "
                  f"quartile spread {sp:.3f} of median (bound {m['bound']})")


if __name__ == "__main__":
    main()
