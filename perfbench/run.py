#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark
program from source (sbt, once per source state), runs one workload on
local[4] in one JVM, checks the outputs (the JVM checks the ingest
tables and sinks; this script checks query results against DuckDB) and
prints one JSON object as the last line of stdout; "correct" is false
when any output check failed. Exits non-zero when no result could be
produced (build failure, JVM failure or time-out, missing metric).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


START = time.time()


def log(msg):
    print(f"perfbench: [{time.time() - START:6.1f} s] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        log("SPARK_HOME must name a Spark install (with a jars/ directory)")
        sys.exit(2)
    return home


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(tree):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile engine + benchmark unless the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) not found: run from a checkout root")
        sys.exit(2)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        log("build failed")
        sys.exit(3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work, out):
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", DATA, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH"], exist_ok=True)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JVM_TIMEOUT_S} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def canon(v):
    """Value normalisation shared with tools/compare_oracle.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(canon_rows).encode()).hexdigest()
    return [cols[i] for i in order], len(canon_rows), h


def check_queries(oracles, results):
    """Each result == DuckDB oracle SQL (columns, row count, checksum);
    entries without oracle SQL need at least one row."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(DATA, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failures = []
    for q in sorted(oracles):
        files = glob.glob(os.path.join(results, q, "*.parquet"))
        if not files:
            failures.append(f"{q}: no result files")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_cols, got_rows = got.columns, got.fetchall()
        if oracles[q] is None:
            if not got_rows:
                failures.append(f"{q}: empty result")
            continue
        want = con.sql(oracles[q])
        a, b = digest(want.columns, want.fetchall()), digest(got_cols, got_rows)
        if a != b:
            failures.append(f"{q}: oracle (cols, rows, sha) {a} != result {b}")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        log("starting the benchmark JVM")
        code = run_jvm(args, work, out)
        log(f"benchmark JVM exited ({code})")
        if code != 0 or not os.path.exists(out):
            log(f"run failed (exit {code})")
            sys.exit(4)
        with open(out) as fh:
            res = json.load(fh)
        failures = list(res["failures"])
        if res["oracles"]:
            failures += check_queries(res["oracles"], res["results"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("checks done")
    for f in failures:
        log(f"CHECK FAILED: {f}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if res["metrics"].get(m["name"]) is None]
    if missing:
        log(f"metrics not measured: {missing}")
        sys.exit(5)
    print(json.dumps({
        "correct": not failures,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted}}), flush=True)


if __name__ == "__main__":
    main()
