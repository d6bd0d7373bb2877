#!/usr/bin/env python3
"""Benchmark runner for the climate data integration engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload nl_qa --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark harness from source (sbt, once per
source state), runs one workload in a fresh JVM with a fresh work directory
(its own java.io.tmpdir and GRAFT_ARTIFACT_DIR), checks the outputs of the
query workloads against their DuckDB oracle SQL, and prints one JSON object
as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 1 the metrics are the per-layer ones, and the spans and the
per-layer table are kept under perfbench/out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("nl_qa", "batch_mix")
DEADLINE_S = 170
BUILD_DEADLINE_S = 840
# A fixed-size heap and the throughput collector: no heap resizing and no
# concurrent GC threads competing with the four Spark task threads.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha1()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, deadline):
    """Compiles with sbt unless the recorded classpath matches the sources."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "perfbench.classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved, _, cp = f.read().partition("\n")
        if saved == stamp and cp.strip():
            return cp.strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(target, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env, log,
                       deadline - time.time())
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "scala-library" not in cp:
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def run_group(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout, and on
    any exception, SIGTERM and SIGINT included, before passing it on."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---- oracle compare -------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def same_value(a, b):
    """Exact representation compare: type name and canonical repr."""
    if a is None and b is None:
        return True
    if type(a).__name__ != type(b).__name__:
        return False
    if isinstance(a, float):
        return (math.isnan(a) and math.isnan(b)) or repr(a) == repr(b)
    return str(a) == str(b)


def oracle_mismatch(con, got_dir, sql):
    """None if the Spark result equals the oracle's (row count, schema and
    every value after sorting rows), else a short reason."""
    got = canon(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df())
    want = canon(con.sql(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return "column types differ"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not same_value(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


def oracle_check(result):
    """Names of checked operations whose output differs from the oracle."""
    checks = result.get("checks", {})
    if not checks:
        return {}
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(result["data_dir"], f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
    bad = {}
    for name, c in sorted(checks.items()):
        try:
            why = oracle_mismatch(con, os.path.join(result["check_dir"], name), c["sql"])
        except Exception as e:  # an oracle or load error is a failed check
            why = f"error: {e}"
        if why:
            bad[name] = why
    con.close()
    return bad


# ---- main -----------------------------------------------------------------

def terminate(signum, frame):
    sys.exit(128 + signum)


def main():
    t_start = time.time()
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    cp = build(root, t_start + BUILD_DEADLINE_S)
    t_run = time.time()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "artifacts"):
        os.makedirs(os.path.join(work, d))
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"))
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work, result_path]
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = run_group(cmd, root, env, log, DEADLINE_S - (t_run - t_start) - 8)
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            jvm_log = f.read()
        sys.stderr.write("".join(l for l in jvm_log.splitlines(True)
                                 if l.startswith("[perfbench]")))
        if rc != 0 or not os.path.exists(result_path):
            sys.stderr.write(jvm_log[-4000:])
            fail(f"benchmark process failed (exit {rc})")
        with open(result_path) as f:
            result = json.load(f)
        t_check = time.time()
        mismatched = oracle_check(result)
        print(f"[perfbench] benchmark process {t_check - t_run:.1f} s, oracle check "
              f"{time.time() - t_check:.1f} s", file=sys.stderr)
        for name, why in mismatched.items():
            print(f"perfbench: {name} differs from its oracle: {why}", file=sys.stderr)
        if a.trace:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            for ext in ("spans.jsonl", "layers.txt"):
                shutil.copy(f"{result_path}.{ext}",
                            os.path.join(out, f"{a.workload}-seed{a.seed}.{ext}"))
            with open(f"{result_path}.layers.txt") as f:
                print(f.read(), end="")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = result["failed"] + sum(result["checks"][n]["timed_runs"] for n in mismatched)
    correct = failed == 0 and result["warm_failed"] == 0 and not mismatched
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
