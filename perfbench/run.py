#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload suite|search_serve|cdc_tick \
        --seed N --seconds S --trace 0|1

Builds the library and the harness from the checkout on first use (into
.bench_build/), runs the workload in one JVM with its own scratch directory,
checks every output, and prints one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics untraced, the per-layer
metrics traced). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import common  # noqa: E402

WORKLOADS = ("suite", "search_serve", "cdc_tick")


def timeout_s(workload, seconds):
    """How long the JVM may run. search_serve and cdc_tick fit in 170 s.
    suite sets up for about 6 minutes (a check pass of all 217 queries, then
    a warm-up pass) and then runs whole passes of about 2 minutes each until
    `seconds` have passed."""
    return 900 + 2 * seconds if workload == "suite" else 170


def bench_spec():
    spec = json.load(open(os.path.join(common.ROOT, "BENCHMARK.json")))
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def check_suite(outputs, failures):
    """Compare each suite query's output with its stored DuckDB answer."""
    expected_path = os.path.join(common.HERE, "expected", "suite_sf0.1.json")
    expected = json.load(open(expected_path))
    con = common.duck(None)
    for name in sorted(os.listdir(outputs)):
        want = expected.get(name)
        try:
            got = con.execute(
                f"SELECT * FROM '{outputs}/{name}/*.parquet'").df()
        except Exception as e:  # noqa: BLE001 - any read error is a failure
            failures.append(f"{name}: output unreadable: {e}"[:300])
            continue
        if want is None:
            failures.append(f"{name}: no stored answer")
        elif want.get("rows_only"):
            if len(got) == 0:
                failures.append(f"{name}: returned no rows")
        else:
            ans = common.answer(got)
            if ans != {k: want[k] for k in ans}:
                failures.append(
                    f"{name}: answer differs from DuckDB (rows {ans['rows']} "
                    f"vs {want['rows']}, columns {ans['columns']} vs "
                    f"{want['columns']})"[:300])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    timeout = timeout_s(a.workload, a.seconds)

    e2e_names, layer_names = bench_spec()
    data = common.data_dir()
    if not os.path.exists(os.path.join(data, "documents.parquet")):
        common.fail(f"dataset not found at {data}")
    classpath = common.build()

    run_dir = os.path.join(common.BUILD, f"run-{os.getpid()}")
    spans = os.path.join(common.BUILD, "spans",
                         f"{a.workload}-seed{a.seed}.jsonl")
    logs = os.path.join(common.BUILD, "logs")
    for d in ("stores", "spark-local", "tmp", "outputs"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")

    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--scratch", run_dir, "--spans", spans,
                "--outputs", os.path.join(run_dir, "outputs"),
                "--t0", repr(time.time() * 1000.0)]
        with open(log, "w") as err:
            proc = subprocess.Popen(
                common.java_cmd(classpath, os.path.join(run_dir, "tmp"), args),
                stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                text=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                common.fail(f"workload exceeded {timeout:.0f}s; log in {log}")
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(open(log).read()[-4000:])
            common.fail(f"harness JVM exited {proc.returncode}; log in {log}")
        rep = json.loads(lines[-1])
        failures = list(rep["failures"])
        attempted = rep["attempted"]
        if a.workload == "suite":
            check_suite(os.path.join(run_dir, "outputs"), failures)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, m in rep["named"].items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} operations attempted = {attempted}, "
          f"failed = {len(failures)}")
    for f in failures[:50]:
        print(f"FAILED {f}")
    if a.trace:
        metrics = {n: {"value": rep["layer"].get(n, 0.0), "unit": u}
                   for n, u in layer_names}
        print(f"spans written to {os.path.relpath(spans, common.ROOT)}")
    else:
        # a metric the run could not measure (no tick of a size completed)
        # is left out; such a run has failed operations
        metrics = {n: rep["e2e"][n] for n, _ in e2e_names if n in rep["e2e"]}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
