#!/usr/bin/env python3
"""End-to-end benchmark of the pipeline (generate, ingest, compact, reduce,
serve) and of the query surface, run from the root of a source checkout:

    python3 perfbench/run.py --workload cycle --seed 1 --seconds 24 --trace 0

It compiles the program's sources and perfbench/Harness.scala with the
Scala compiler that ships in Spark's jars (cached under .bench_build by a
hash of the sources), runs one workload in one JVM on a fresh work dir,
checks the result and prints one JSON object as its last line. --trace 1
attaches the Spark and streaming listeners, prints the per-layer metrics
and writes the spans to .bench_build/traces/. See perfbench/README.md.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = os.path.join(ROOT, "src", "main", "scala")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_queries.json")
RUN_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars of the first Spark
    install whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    jars = next((os.path.join(h, "jars") for h in homes
                 if h and os.path.isdir(os.path.join(h, "jars"))), None)
    if jars is None:
        fail("no Spark jars found: set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def scala_files():
    if not os.path.isdir(SOURCES):
        fail(f"no program sources at {SOURCES}: run from the root of a source checkout")
    files = [os.path.join(d, f) for d, _, fs in os.walk(SOURCES) for f in fs if f.endswith(".scala")]
    return sorted(files) + [os.path.join(HERE, "Harness.scala")]


def build(jars):
    """Compile program + harness once per source hash; returns the classes dir."""
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", ":".join(jars)] + files
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}")
    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    traces = os.path.join(BUILD, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    trace_out = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
    cmd = (["java"] + ADD_OPENS +
           ["-XX:-UsePerfData", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", ":".join([classes] + jars), "perfbench.Harness",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), FIXTURES, work, EXPECTED, trace_out])
    env = dict(os.environ, GRAFT_PIPE_DIR=os.path.join(work, "pipe"))
    log_path = os.path.join(BUILD, f"{a.workload}-last.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"workload {a.workload} ran past {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)
    with open(log_path, "a") as log:
        log.write(stdout)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        fail(f"harness exited {p.returncode} without a result (log: {log_path})")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    for prob in res.pop("problems"):
        print(f"perfbench: FAILED {prob}", file=sys.stderr)

    got = res["metrics"]
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            # a failed operation leaves a timing undefined
            res["correct"] = False
            v = {"value": None, "unit": m["unit"]}
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    out = {"correct": bool(res["correct"]), "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
