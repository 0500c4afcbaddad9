#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|curate|serve --seed N \
        --seconds S --trace 0|1

Builds the benchmark (perfbench/build.sbt, which compiles graft's own
sources) on first use, runs the benchmark JVM, checks the outputs and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
ones. The full record of the run (checks, samples, host stamp) is
written to perfbench/work/results/. Exits non-zero, printing no
result, when the build, the run or the result file fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target", "graftbench.classpath")
# serve's read-only tables: the project's sf0.1 test tables
TABLES = os.path.join(HERE, "data", "sf0.1")
DEADLINE_S = 170

# Spark on JDK 17 needs these outside spark-submit (the same list as
# the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Digest of everything the build compiles, so a stale build is
    never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def saved_build(stamp):
    """The classpath of the saved build, if it was built from these
    sources."""
    if os.path.exists(BUILD):
        with open(BUILD) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    return None


def build(stamp, deadline):
    cp = saved_build(stamp)
    if cp:
        return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + \
        " -Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=max(1, deadline - time.time()))
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def wakeup_us(n=5000):
    """Cross-CPU blocking wakeup: pipe ping-pong round trip between two
    processes. Healthy hosts read 5-15 us."""
    r1, w1 = os.pipe()
    r2, w2 = os.pipe()
    pid = os.fork()
    if pid == 0:
        for _ in range(n):
            os.read(r1, 1)
            os.write(w2, b"x")
        os._exit(0)
    t0 = time.perf_counter()
    for _ in range(n):
        os.write(w1, b"x")
        os.read(r2, 1)
    us = (time.perf_counter() - t0) / n * 1e6
    os.waitpid(pid, 0)
    for fd in (r1, w1, r2, w2):
        os.close(fd)
    return us


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def frame_key(rows, cols):
    """Columns sorted by name, rows sorted, exact values (the
    normalization of tools/compare.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def oracle_failures(work, tables):
    """Serial results of every gate query the serve run read, compared
    with DuckDB running the query's oracle SQL over the same tables.
    Returns (reads failed, detail lines)."""
    import duckdb
    check = os.path.join(work, "serve", "oracle_check")
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(check, "reads.json")) as f:
        reads = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            path = os.path.join(tables, t)
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{src}'")
    failed, detail = 0, []
    for name, sql in sorted(oracles.items()):
        res = con.execute(f"SELECT * FROM '{check}/{name}/*.parquet'")
        got = frame_key(res.fetchall(), [d[0] for d in res.description])
        ores = con.execute(sql)
        want = frame_key(ores.fetchall(), [d[0] for d in ores.description])
        if got != want:
            failed += reads.get(name, 0)
            detail.append(f"oracle mismatch {name}: {len(got[1])} vs {len(want[1])} rows")
    con.close()
    return failed, detail


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", default=None, metavar="OUT",
                    help="only generate the inputs and write their digest to OUT")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to the benchmark")
    b = spec()
    if a.workload not in [w["name"] for w in b["workloads"]]:
        fail(f"unknown workload {a.workload}")

    stamp = source_stamp()
    # a run that has to build first may take longer
    deadline = start + (DEADLINE_S if saved_build(stamp) else 900)
    cp = build(stamp, deadline)
    wake = wakeup_us()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.abspath(a.gen_only) if a.gen_only else os.path.join(work, "record.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    # a class-data archive of this build, written by its first run,
    # spares later runs most of the JVM's class loading
    jsa = os.path.join(os.path.dirname(BUILD), f"classes-{stamp[:16]}.jsa")
    if not os.path.exists(jsa):
        for old in os.listdir(os.path.dirname(BUILD)):
            if old.startswith("classes-") and old.endswith(".jsa"):
                os.remove(os.path.join(os.path.dirname(BUILD), old))
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd.append("-Xshare:auto")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out,
            "--gen-only", "1" if a.gen_only else "0", "--tables", TABLES]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded the time limit (log: {log_path})")
    if rc != 0 and os.path.exists(out) and not os.path.exists(jsa):
        # the run completed; only writing the class archive failed
        print(f"perfbench: class archive not written (JVM exit {rc})", file=sys.stderr)
        rc = 0
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited {rc}")
    if a.gen_only:
        shutil.rmtree(work, ignore_errors=True)
        return

    with open(out) as f:
        rec = json.load(f)
    failed = rec["failed"]
    checks_ok = all(c["ok"] for c in rec["checks"])
    detail = [f"check FAIL {c['name']}: {c['detail']}" for c in rec["checks"] if not c["ok"]]
    if a.workload == "serve":
        of, od = oracle_failures(work, rec["serve_tables"])
        failed += of
        detail += od
    for d in detail:
        print(d, file=sys.stderr)
    rec["host"] = {
        "nproc": os.cpu_count(), "master": rec["jvm"]["master"], "heap": HEAP,
        "jvm_version": rec["jvm"]["java_version"], "commit": commit(),
        "source_digest": stamp, "seed": a.seed,
        "wakeup_us": round(wake, 2), "wakeup_healthy": 5.0 <= wake <= 15.0,
    }
    rec["failed"] = failed
    rec["correct"] = checks_ok and failed == 0
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    if not rec["host"]["wakeup_healthy"]:
        print(f"perfbench: host wakeup latency {wake:.1f} us is outside 5-15 us; "
              "timings from this run reflect the host", file=sys.stderr)

    if rec["correct"]:
        shutil.rmtree(work, ignore_errors=True)
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in b[section]:
        v = rec[section].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run record")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": rec["correct"], "attempted": max(1, rec["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
