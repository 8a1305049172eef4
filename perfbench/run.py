#!/usr/bin/env python3
"""Repository benchmark: the batch pipeline and the query catalog on Spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for sizes and the layer map):

  pipeline_batch  one Pipeline.run over 11 seeded listing snapshots
  catalog_heavy   one query of a frozen memo-chain panel of SparkEntry.queries

The script compiles the repository's sources and the harness in
perfbench/src with the Scala compiler that ships among Spark's jars (into
.bench_build, or $CARGO_TARGET_DIR when set), runs the harness in one JVM
on local[4], checks the catalog panels against DuckDB with
tools/check.py, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans are written next to the run's detail file
under .bench_build/out). Everything it writes stays under the build
directory. It exits non-zero, printing no result, when the sources or the
Spark installation are missing or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START = time.monotonic()
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("pipeline_batch", "catalog_heavy")
# Time allowed beyond --seconds for one invocation, build excluded: JVM
# start, three set-ups, the pass running at the deadline, the oracle check.
SETUP_ALLOWANCE_S = 155

# Matches build.sbt's javaOptions: Spark on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        fail("no sources under src/main/scala: run from the repository root")
    return main + bench


def build(jars):
    """Compile once per distinct source tree (keyed by content hash)."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile],
            stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"compile failed (see {log})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


def run_harness(jars, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           "-Dspark.ui.enabled=false",
           # keep Spark's job/stage/SQL bookkeeping bounded, so the heap
           # retained after a pass does not grow with the passes already run
           "-Dspark.ui.retainedJobs=100",
           "-Dspark.ui.retainedStages=100",
           "-Dspark.sql.ui.retainedExecutions=50",
           "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, jars]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", ROOT, "--work", work, "--out", out]
    # SPARK_LOCAL_DIRS would override spark.local.dir, and SPARK_GRAFT_*
    # tune the engine; the benchmark runs the defaults inside the checkout
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_LOCAL_DIRS" and not k.startswith("SPARK_GRAFT_")}
    budget = args.seconds + SETUP_ALLOWANCE_S - (time.monotonic() - START)
    try:
        # the harness logs to stderr; keep stdout for the result line
        rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            timeout=max(budget, 1)).returncode
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def oracle_check(work):
    """Compare the panel's dumped results with SparkEntry.oracleSql in
    DuckDB, using tools/check.py's comparison rules."""
    dump = os.path.join(work, "oracle")
    data = os.path.join(ROOT, "perfbench/data/sf0.01")
    p = subprocess.run([sys.executable, "-B", os.path.join(ROOT, "tools/check.py"), data, dump],
                       cwd=ROOT, capture_output=True, text=True, timeout=120)
    bad = [l for l in p.stdout.splitlines() if not l.startswith("OK ")]
    sys.stderr.write("\n".join(bad) + "\n")
    return p.returncode == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)
    global START
    START = time.monotonic()

    outdir = os.path.join(BUILD, "out")
    os.makedirs(outdir, exist_ok=True)
    out = os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    # one scratch tree per invocation, removed when it ends
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    try:
        res = run_harness(jars, args, work, out)
        correct = bool(res["correct"])
        if args.workload.startswith("catalog_") and not res["detail"].get("session_died"):
            oracle_ok = oracle_check(work)
            res["detail"]["oracle_match"] = oracle_ok
            correct = correct and oracle_ok
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
