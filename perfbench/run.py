#!/usr/bin/env python3
"""Repository benchmark: builds the engine from this checkout, runs one
workload in one JVM and prints its metrics.

    python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 10 --trace 0

Workloads, metrics and the layer-to-end-to-end map are described in
perfbench/METRICS.md; BENCHMARK.json at the repository root names them. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the lines
before it print every figure by name with its unit, including fail_frac and
the text_ir lookup figures. With --trace 1 the metrics are the per-layer
ones, and the spans go to perfbench/.work/<run>/trace-*.jsonl.

Exit codes: 0 ok, 2 bad arguments or not inside a checkout of the engine,
3 build failed, 4 the benchmark JVM failed or timed out.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
WORK = os.path.join(HERE, ".work")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["graph_iter", "text_ir"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the up-to-date check."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (ROOT, HERE):
        proj = os.path.join(top, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp(classpath):
    """Hash of the sources plus the name, size and time of every file in
    the classpath's class directories. Another build in the same checkout
    (the root project's own compile writes the engine's classes to the
    same place) changes the classes and so forces a rebuild."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for entry in classpath.split(os.pathsep):
        h.update(entry.encode())
        for d, dirs, names in os.walk(entry):
            dirs.sort()
            for n in sorted(names):
                st = os.stat(os.path.join(d, n))
                h.update(f"{os.path.join(d, n)} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the stamp written by the
    last build still matches; returns the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "build.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(cp_file) as c:
            classpath = c.read().strip()
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp(classpath):
                return classpath
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(3, f"build failed (sbt exit {rc}); log in {log}")
    with open(cp_file) as c:
        classpath = c.read().strip()
    with open(stamp_file, "w") as fh:
        fh.write(stamp(classpath))
    return classpath


def run_jvm(classpath, args, run_dir):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # Spark's scratch space and the JVM's temporary files stay in the run
    # directory; -XX:-UsePerfData keeps the JVM out of /tmp/hsperfdata_*
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(4, f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; log in {log}")
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "run.json")):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(4, f"benchmark JVM exited {rc}; log in {log}")


# ---- result checking: the oracle compare of the repository's tools/check.py

def same_table(got, exp):
    """Columns sorted by name, rows sorted by every column; floating-point
    columns compare within 1e-9 absolute plus 1e-9 relative, the rest as
    strings."""
    import numpy as np
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False
    if len(got.columns):
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            if not np.allclose(g.astype(float), e.astype(float),
                               rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not (g.astype(str).values == e.astype(str).values).all():
            return False
    return True


def wrong_results(run_dir, oracle_sql):
    """Contract queries whose first result in the run, written as parquet
    under <run>/results/<query>, differs from its DuckDB oracle over the
    same fixtures. Oracle results are cached as parquet under .work/oracle
    by the hash of their SQL; graph_components' recursive oracle takes
    about 20 s."""
    import duckdb
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb-tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    wrong = []
    results = os.path.join(run_dir, "results")
    for q in sorted(os.listdir(results) if os.path.isdir(results) else []):
        if q not in oracle_sql:
            continue
        sql = oracle_sql[q]
        exp = os.path.join(cache, f"{q}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet")
        if not os.path.exists(exp):
            con.execute(f"COPY ({sql}) TO '{exp}.tmp' (FORMAT parquet)")
            os.replace(exp + ".tmp", exp)
        got = con.sql(f"SELECT * FROM read_parquet('{run_dir}/results/{q}/*.parquet')").df()
        if not same_table(got, con.sql(f"SELECT * FROM '{exp}'").df()):
            wrong.append(q)
    con.close()
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(2, f"unknown workload {a.workload!r}; one of {WORKLOADS}")
    if a.seconds < 1:
        fail(2, "--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(2, f"{ROOT} is not a checkout of the engine (no src/main/scala/graft)")
    if not all(os.path.isfile(os.path.join(FIXTURES, f"{t}.parquet")) for t in TABLES):
        fail(2, f"fixtures missing under {FIXTURES}")

    classpath = build()
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                        FIXTURES, run_dir, str(cores)], run_dir)
    with open(os.path.join(run_dir, "run.json")) as fh:
        run = json.load(fh)
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)

    attempted, failed = run["attempted"], run["failed"]
    for q in wrong_results(run_dir, oracle_sql):
        print(f"perfbench: {q}: result differs from its oracle", file=sys.stderr)
        failed += run["queries"].get(q, {}).get("ok", 0)
    check = run["selfcheck"]
    if check:
        attempted += 2
        if not check["lazy_dup_stages"] >= 1:
            print("perfbench: duplicate-stage detector missed the lazy stampede", file=sys.stderr)
            failed += 1
        if check["eager_dup_stages"] != 0:
            print("perfbench: duplicate-stage detector flagged the eager plan", file=sys.stderr)
            failed += 1

    print(f"workload {a.workload} seed {a.seed} trace {a.trace} cores {cores}: "
          f"{run['passes']} measured passes, {run['traced_passes']} traced, "
          f"{run['ops']} untraced operations, burn-in {run['burn_in_s']:.2f} s, "
          f"set-up {run['setup_s']:.2f} s, "
          f"run {time.time() - t0:.1f} s")
    units = run["units"]
    metrics = {k: {"value": v, "unit": units[k]}
               for k, v in run["per_layer" if a.trace else "end_to_end"].items()}
    if not a.trace:
        for k, v in run["text"].items():
            print(f"{k} = {v:.6g} {units[k]}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"fail_frac = {failed / max(attempted, 1):.6g} ratio ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
