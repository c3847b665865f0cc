#!/usr/bin/env python3
"""Compute the suite's expected answers once, in DuckDB, and store them.

    python3 perfbench/make_expected.py [q_a,q_b,...]

Dumps `SparkEntry.oracleSql` from the built library, runs each statement in
DuckDB over the benchmark dataset (sf0.1), and writes the canonical answer
of every query (row count, typed columns, digest; see common.answer) to
perfbench/expected/suite_sf0.1.json. Queries without an oracle statement are
stored as rows-only: their check is that they return rows. With a list of
names, only those entries are recomputed; the others are kept.

Run it alone on the machine: it is not timed, but DuckDB and a benchmark run
would slow each other down.
"""
import json
import os
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
import common  # noqa: E402

OUT = os.path.join(common.HERE, "expected", "suite_sf0.1.json")


def main():
    classpath = common.build()
    data = common.data_dir()
    os.makedirs(os.path.join(common.BUILD, "tmp"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(common.BUILD, "tmp")) as tmp:
        dump = os.path.join(tmp, "oracle_sql.json")
        subprocess.check_call(common.java_cmd(classpath, tmp, [
            "--workload", "oracle-sql", "--seed", "0", "--seconds", "0",
            "--trace", "0", "--data", data, "--scratch", tmp,
            "--outputs", dump]), stdout=subprocess.DEVNULL)
        spec = json.load(open(dump))
    only = set(sys.argv[1].split(",")) if len(sys.argv) > 1 else None
    expected = json.load(open(OUT)) if os.path.exists(OUT) and only else {}
    con = common.duck(data)
    for name in spec["queries"]:
        if only is not None and name not in only:
            continue
        sql = spec["oracle_sql"].get(name)
        if sql is None:
            expected[name] = {"rows_only": True}
            continue
        t = time.time()
        expected[name] = common.answer(con.execute(sql).df())
        print(f"{name}: {expected[name]['rows']} rows, "
              f"{time.time() - t:.2f}s", flush=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
