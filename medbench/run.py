#!/usr/bin/env python3
"""Medallion benchmark: one run of one workload.

    python3 medbench/run.py --workload pipeline|suite --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
and the benchmark from source (sbt, offline) into medbench/target; later
runs reuse the build while the sources are unchanged. Each run starts one
JVM for its workload (Spark local[N], N = the CPUs this process may use),
checks the program's outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
Per-layer metrics of a layer the workload does not call read 0.

Work files go to .medbench/work and are removed after the run; the run's
JVM output (and, traced, its spans) stay in .medbench/runs.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"medbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt's launcher script forks its JVM) and wait for it. Returns the exit
    code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def spark_jars(root):
    """The Spark jars the program compiles and runs against: $SPARK_HOME/jars,
    else the directory the root build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def source_hash(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if "target" not in os.path.relpath(d, base).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, jars):
    """Compile the program's sources with the benchmark's (offline sbt)."""
    stamp = os.path.join(BENCH, "target", "medbench.stamp")
    digest = source_hash(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=jars)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")])
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    with open(log, "w") as out:
        rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def gen_tables(out, seed):
    """Suite tables from the seed; returns the seconds taken."""
    t0 = time.perf_counter()
    os.makedirs(out)
    subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), out, str(seed)],
                   check=True, timeout=120)
    return time.perf_counter() - t0


def oracle_check(root, tables, results):
    """Compare each dumped result with its DuckDB twin by the fingerprint
    rule of scripts/compare.py; returns (attempted, failures)."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join(root, "scripts", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    con = duckdb.connect()
    for t in compare.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    attempted, failures = 0, []
    for name in sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d))):
        attempted += 1
        try:
            got = con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df()
            if name not in oracle:
                continue  # no SQL twin: the result only has to be readable
            gs, gn, gh = compare.frame_fingerprint(got)
            es, en, eh = compare.frame_fingerprint(con.sql(oracle[name]).df())
            if [c for c, _ in gs] != [c for c, _ in es] or (gn, gh) != (en, eh):
                failures.append(f"{name}: result differs from its DuckDB twin "
                                f"(rows {gn} vs {en})")
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failures.append(f"{name}: oracle check failed: {e}")
    return attempted, failures


def steal_jiffies():
    """CPU time the hypervisor gave to other guests (/proc/stat), for
    telling a slow run on a busy host from a slow program."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipeline", "suite"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "IngestJob.scala")):
        fail("run from the root of a source checkout (src/main/scala/graft is missing)")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    jars = spark_jars(root)
    build(root, jars)

    state = os.path.join(root, ".medbench")
    work = os.path.join(state, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    runs = os.path.join(state, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        fixture_s = 0.0
        extra = []
        if a.workload == "suite":
            tables = os.path.join(work, "tables")
            fixture_s = gen_tables(tables, a.seed)
            extra = ["--tables", tables]
        cores = len(os.sched_getaffinity(0))
        out = os.path.join(work, "out.json")
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={work}/tmp",
                  "-cp", f"{BENCH}/target/scala-2.13/classes:{jars}/*",
                  "medbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                  "--cores", str(cores), "--out", out] + extra)
        steal0 = steal_jiffies()
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        with open(os.path.join(runs, f"{tag}.log"), "w") as log:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        if rc is None:
            fail(f"{a.workload} did not finish in {JVM_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(out):
            fail(f"{a.workload} JVM exited {rc}; see .medbench/runs/{tag}.log")
        res = json.load(open(out))
        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        if a.workload == "suite":
            n, bad = oracle_check(root, tables, os.path.join(work, "results"))
            attempted, failed, failures = attempted + n, failed + len(bad), failures + bad
        got = res["metrics"]
        if "setup_s" in got:
            got["setup_s"]["value"] += fixture_s
        if a.trace == "1" and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(runs, f"{tag}.spans.jsonl"))
        with open(os.path.join(runs, f"{tag}.json"), "w") as f:
            json.dump(dict(res, failures=failures,
                           steal_s=(steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")), f, indent=1)
        for msg in failures:
            print(f"medbench: FAILED {msg}", file=sys.stderr)

        metrics = {}
        for m in spec["per_layer" if a.trace == "1" else "end_to_end"]:
            if m["name"] in got:
                metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
            elif a.trace == "1":
                metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            else:
                fail(f"{a.workload} did not report {m['name']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
