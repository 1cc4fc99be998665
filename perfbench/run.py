#!/usr/bin/env python3
"""Run one workload of the graft lakehouse benchmark and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_scan --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with the
harness in perfbench/ (its own sbt build); later runs reuse that build while
the sources are unchanged. The harness runs in one JVM on Spark local[nproc]
and writes its result file; this script checks the query_mix results against
DuckDB where the engine declares oracle SQL, prints the run's validity record
as one JSON line and then the result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".run")
WORKLOADS = ["lake_scan", "lake_dml", "tick_stream", "query_mix"]
# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 700    # the first run in a checkout also builds


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness once per source state. Returns the
    classpath and whether this call compiled."""
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    digest = sources_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # keep the build's scratch files inside the checkout
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=fh, deadline=deadline)
    lines = open(log).read().splitlines()
    cps = [l.strip() for l in lines if "scala-2.13" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        tail = "\n".join(lines[-30:])
        die(f"build failed (exit {rc}); last lines of {log}:\n{tail}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1], True


def run_child(cmd, cwd, env, stdout, deadline):
    """Run a child in its own process group; kill the group at the deadline
    and wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def oracle_check(checks):
    """Compare each query_mix result with DuckDB running the engine's oracle
    SQL on the same input tables. Returns a list of mismatch messages."""
    try:
        import duckdb
    except ImportError:
        return ["duckdb is not importable; the query_mix gate cannot run"]
    bad = []
    for c in checks:
        con = duckdb.connect()
        try:
            for t in c["tables"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{c['sf']}/{t}.parquet'")
            got = rows_of(con, "SELECT * FROM read_parquet("
                          f"{sorted(glob.glob(c['result'] + '/*.parquet'))!r})")
            exp = rows_of(con, c["sql"])
            if got != exp:
                bad.append(f"{c['name']}: result differs from the DuckDB oracle "
                           f"({len(got)} vs {len(exp)} rows)")
        except Exception as e:  # a failing oracle is a failed check
            bad.append(f"{c['name']}: oracle check error {e}")
        finally:
            con.close()
    return bad


def rows_of(con, sql):
    """Rows as sorted tuples of canonical cells, columns sorted by name."""
    rel = con.sql(sql)
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for r in rel.fetchall():
        out.append(tuple(canon(r[i]) for i in order))
    return sorted(out, key=repr)


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:-6] if s.endswith("+00:00") else s
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if hasattr(v, "as_integer_ratio") and not isinstance(v, int):
        return repr(float(v))
    return v


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not "
            "next to perfbench/; run from the root of a graft checkout")
    os.makedirs(STATE, exist_ok=True)
    cp, built = build(start + BUILD_LIMIT_S)
    deadline = (time.time() if built else start) + RUN_LIMIT_S

    tag = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(STATE, "work-" + tag)
    out = os.path.join(STATE, "result-" + tag + ".json")
    trace_out = os.path.join(STATE, "trace-" + tag + ".jsonl")
    log = os.path.join(STATE, "jvm-" + a.workload + ".log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", out,
            "--trace-out", trace_out]
    try:
        with open(log, "w") as fh:
            rc = run_child(cmd, cwd=ROOT, env=dict(os.environ), stdout=fh,
                           deadline=deadline)
        if rc != 0 or not os.path.isfile(out):
            tail = "\n".join(open(log).read().splitlines()[-40:])
            die(f"{a.workload} run failed (exit {rc}); last lines of "
                f"{log}:\n{tail}")
        with open(out) as fh:
            res = json.load(fh)
        os.remove(out)
        validity = res.pop("validity")
        checks = validity.pop("oracle_checks", [])
        if checks:
            bad = oracle_check(checks)
            validity["oracle_checked"] = len(checks)
            if bad:
                res["failed"] += len(bad)
                validity["errors"] = validity.get("errors", []) + bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res["failed"] or validity.get("errors"):
        res["correct"] = False
    print(json.dumps({"validity": validity}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed",
                                          "metrics")}))


if __name__ == "__main__":
    main()
