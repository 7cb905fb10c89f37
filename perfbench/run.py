#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source on first use (sbt, offline), generates the workload's inputs
from the seed, runs the closed loop for S seconds in one JVM, checks
every operation's output against the registered DuckDB oracles and
prints a human-readable table followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
The run record (operations, spans, listener counts) is kept under
perfbench/results/ for compare.py.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "source.sha256")
WORKLOADS = ("medallion_dag", "curation_dedup")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ENGINE_SRC}/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    log("building engine + harness (sbt compile)")
    # offline: dependencies come from the local caches only
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.offline=true -Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840, env=env)
    if r.returncode != 0:
        sys.exit(f"[perfbench] build failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def fingerprint(cores):
    mem = next((int(line.split()[1]) // 1024 for line in open("/proc/meminfo")
                if line.startswith("MemTotal:")), None)
    return {"nproc": cores, "mem_total_mb": mem, "loadavg_1m": os.getloadavg()[0]}


def run_jvm(workload, run_dir, seconds, trace, cores):
    spark_home = os.environ["SPARK_HOME"]
    heap = "4g"
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseParallelGC", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.callstack.depth=64",
           "-cp", f"{CLASSES}:{spark_home}/jars/*", "graft.perfbench.Main",
           "--workload", workload, "--dir", run_dir, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores)]
    os.makedirs(f"{run_dir}/tmp")
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
    try:
        # start-up, five set-ups and the warm-up passes take about 45 s
        rc = p.wait(timeout=seconds + 130)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("[perfbench] workload timed out")
    if rc != 0:
        sys.exit(f"[perfbench] workload JVM failed ({rc})")
    with open(f"{run_dir}/record.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        sys.exit("[perfbench] engine sources not found: run from a checkout of the repository")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        sys.exit("[perfbench] SPARK_HOME must point at a Spark distribution")
    sys.path.insert(0, HERE)
    import metrics
    import oracle

    build()
    cores = len(os.sched_getaffinity(0))
    env = fingerprint(cores)
    log(f"environment {env}")
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        log("generating inputs")
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--out", run_dir], check=True, timeout=120)
        log("running workload")
        record = run_jvm(a.workload, run_dir, a.seconds, a.trace, cores)
        log("checking outputs")
        t = time.time()
        verdicts = oracle.run_checks(record["checks"])
        log(f"{len(verdicts)} output checks in {time.time() - t:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = metrics.summarize(a.workload, record, verdicts, cores, bool(a.trace))
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "environment": env, "result": result["line"],
                   "report": result["report"], "record": record}, f)
    for line in result["table"]:
        print(line)
    print(json.dumps(result["line"]))


if __name__ == "__main__":
    main()
