"""Shared pieces of the benchmark's Python tools: locating the checkout and
the data, building the harness, launching its JVM, and the canonical form
of a query answer."""
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt's
# list, org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir(scale="0.1"):
    """The dataset directory TESTDATA.md assigns to `scale` (sf0.1 is the
    benchmark scale); PERFBENCH_DATA overrides it."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        fail("TESTDATA.md not found: run from a checkout of the repository")
    for line in open(path, encoding="utf-8"):
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) >= 2 and cells[0] == scale:
            return cells[1].strip("`").rstrip("/")
    fail(f"TESTDATA.md names no sf{scale} directory")


def _sources():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness with sbt, once per source state;
    return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: the benchmark builds the library from "
                 "the checkout it sits in")
    stamp = _stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH) and \
            open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", f"writeClasspath {CLASSPATH}"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return open(CLASSPATH).read().strip()


def heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half the RAM, 2 to 8 GB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(classpath, tmpdir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    mem = heap()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{mem}", f"-Xmx{mem}",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", *args]


# ---- canonical answers ----------------------------------------------------

def canon(df):
    """tools/check_oracle.py's canonical frame: columns by name, datetimes
    as strings, every integer width widened to int64, int/float kept apart."""
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df


def _norm(v):
    import numpy as np
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        import pandas as pd
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v if isinstance(v, (int, str, bool)) else str(v)


def answer(df):
    """Row count, typed columns and an order-free digest of a result."""
    df = canon(df)
    rows = sorted(json.dumps([_norm(x) for x in r], sort_keys=True)
                  for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows),
            "columns": [[c, str(df[c].dtype)] for c in df.columns],
            "sha256": h.hexdigest()}


def duck(data):
    """A DuckDB connection, with the dataset's tables as views when `data`
    is given."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES if data else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con
