#!/usr/bin/env python3
"""Same-host benchmark of the validation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine with this directory's harness (sbt, offline) when the
sources changed, runs one JVM with local[<cpus>] and a single closed-loop
caller, compares the operator-query results with their DuckDB oracle, and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. The line before it reports the
workload's own metrics (see README.md). Must be run from the repository root.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(HERE, ".out")
BUILD = os.path.join(OUT, "build")

WORKLOADS = ["validate_and_land", "operator_queries"]
HEAP = "2g"
# A run ends within RUN_LIMIT_S, or FIRST_RUN_LIMIT_S when it builds. The JVM
# gets what is left of the limit after the build, less ORACLE_S for the
# DuckDB comparison that follows it.
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 890
BUILD_BUDGET_S = 800
ORACLE_S = 10
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.sep + "target" in d or os.sep + "project" + os.sep + "project" in d:
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness when a source changed; return the runtime
    classpath and whether it built."""
    stamp = source_stamp()
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == stamp:
                with open(cp_f) as g:
                    return g.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_BUDGET_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL)
    text = out.decode(errors="replace")
    sys.stderr.write(text)
    if code != 0:
        raise SystemExit(f"sbt build failed with exit code {code}")
    lines = [l for l in text.splitlines()
             if l and not l.startswith("[") and "classes" in l]
    if not lines:
        raise SystemExit("sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp, True


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# DuckDB oracle comparison, normalised as tools/check_oracle.py does: columns
# sorted by name, rows sorted by repr, values compared by repr.

ORACLE_TABLES = ["documents", "embeddings"]
# DuckDB 1.0 inlines a CTE at every reference, so oracles that chain CTEs
# (the LR training steps, the BPE merges) re-evaluate them exponentially
# often. Evaluating each CTE once is the same query: the oracles use no
# nondeterministic function.
CTE_DEF = re.compile(r"(\b[A-Za-z_][A-Za-z0-9_]*\s+AS)\s+\(")


def materialized(sql):
    return CTE_DEF.sub(r"\1 MATERIALIZED (", sql)


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    return out, [cols[i] for i in order]


def oracle_failures(tables, results):
    import duckdb
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"parquet_scan('{tables}/{t}.parquet/*.parquet')")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        pdir = os.path.join(results, name)
        if not os.path.isdir(pdir):
            bad.append(f"{name}: no result written")
            continue
        try:
            got = con.sql(f"SELECT * FROM parquet_scan('{pdir}/*.parquet')")
            gn, gc = norm(got.fetchall(), [d[0] for d in got.description])
            want = con.sql(materialized(sql))
            wn, wc = norm(want.fetchall(), [d[0] for d in want.description])
        except duckdb.Error as e:
            bad.append(f"{name}: {e}")
            continue
        if gc != wc:
            bad.append(f"{name}: columns {gc} != oracle {wc}")
        elif gn != wn:
            bad.append(f"{name}: {len(gn)} rows differ from the oracle's {len(wn)}")
        else:
            log(f"oracle OK {name}: {len(gn)} rows")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    began = time.time()

    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from the repository root of a full checkout")
        return 2
    cp, built = build()
    start = time.time()
    limit = FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S
    jvm_budget = limit - (start - began) - ORACLE_S

    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cpus", str(cpus()), "--result", result]
    env = dict(os.environ)
    # SPARK_LOCAL_DIRS overrides spark.local.dir: keep shuffle files in work
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        try:
            code, _ = run_bounded(cmd, jvm_budget, env=env,
                                  stdout=sys.stderr, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            log(f"the JVM did not finish within {jvm_budget:.0f} s")
            return 3
        if code != 0 or not os.path.exists(result):
            log(f"the JVM failed with exit code {code}")
            return 4
        with open(result) as f:
            r = json.load(f)
        failures = list(r["failures"])
        attempted, failed = r["attempted"], r["failed"]
        if r["oracle"]:
            bad = oracle_failures(r["oracle"]["tables"], r["oracle"]["results"])
            failures += [f"oracle mismatch: {b}" for b in bad]
            failed += len(bad)
        if a.trace:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(result + ".spans.jsonl", os.path.join(
                traces, f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for fmsg in failures:
        log(f"FAILED: {fmsg}")
    metrics = {k: m for k, m in r["metrics"].items()
               if isinstance(m["value"], (int, float))
               and math.isfinite(m["value"])}
    if failed == 0 and (not metrics or len(metrics) < len(r["metrics"])):
        log("a metric is missing or not a finite number")
        return 5
    report = dict(r["report"])
    report["ops_failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    log(f"run took {time.time() - start:.1f} s after the build")
    return 0


if __name__ == "__main__":
    sys.exit(main())
