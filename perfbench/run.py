#!/usr/bin/env python3
"""Engine benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload onepass_ml --seed 1 --seconds 10 --trace 0

It builds the program and the benchmark's JVM side from source (once per
source change, into $CARGO_TARGET_DIR or .bench_build), generates the
workload's inputs from the seed, runs the workload in one JVM, checks every
operation's output, and prints one JSON object as the last line of standard
output: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the run also writes its spans to
<build>/last-trace/spans.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("onepass_ml", "iterative_train", "ingest")
# Copies of the sf0.1 fact tables in the onepass_ml input: enough that task
# time, not planning or job launch, is most of each op.
ONEPASS_COPIES = 2
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A run must end within 180 s of its start (the first, which builds, may
# take longer); the JVM gets what is left of that after the inputs.
RUN_DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def build(build_dir):
    """Compiles src/main/scala and perfbench/src with scalac into
    <build_dir>/classes, unless the sources are unchanged since the last
    build."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not sources:
        sys.exit("no program sources under src/main/scala: run from the checkout root")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    jars = spark_jars()
    compiler = [os.path.join(jars, f"{n}-2.13.17.jar")
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(os.path.exists(c) for c in compiler):
        compiler = glob.glob(os.path.join(jars, "scala-*.jar"))
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + sources,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(classes, workload, data, work, seconds, trace, seed, deadline):
    # No perf-data file: the JVM would write it under /tmp, outside the
    # checkout, whatever java.io.tmpdir says.
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "perfbench.EngineBench",
            workload, data, work, str(seconds), str(trace), str(seed), str(cpus())]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, frame):
        raise SystemExit(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        sys.exit(f"workload did not finish within {RUN_DEADLINE_S} s")
    finally:
        if p.poll() is None:
            p.kill()
        p.wait()
    if rc != 0:
        sys.exit(f"JVM exited with {rc}")


def make_inputs(workload, data, seed):
    if workload == "onepass_ml":
        gen.base(os.path.join(data, "base"), seed)
        gen.multicopy(os.path.join(data, "base"), data, ONEPASS_COPIES, seed)
    else:
        gen.base(data, seed)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        make_inputs(a.workload, data, a.seed)
        t1 = time.time()
        run_jvm(classes, a.workload, data, work, a.seconds, a.trace, a.seed, deadline)
        t2 = time.time()
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        shutil.copy(os.path.join(work, "result.json"), os.path.join(build_dir, "last-result.json"))
        problems = list(res["mismatches"]) + checks.check_all(res, data, work)
        for p in problems:
            log(f"CHECK FAILED {p}")
        log(f"inputs {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
        if a.trace:
            keep = os.path.join(build_dir, "last-trace")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            shutil.copy(os.path.join(work, "spans.jsonl"), keep)
        metrics = res["per_layer"] if a.trace else res["end_to_end"]
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
