#!/usr/bin/env python3
"""graft benchmark: builds graft and the harness from source, runs one
workload in a fresh JVM and prints the result as the last line of stdout.

Run from the repository root:

    python3 perfbench/run.py --workload store_reads --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Workloads and metrics are listed in BENCHMARK.json; perfbench/README.md
says what each one measures. Build output, scratch data and per-run
result files go to .bench_build/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("store_reads", "stream_ingest", "corpus_pipeline")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
JVM_HEAP = ["-Xms2g", "-Xmx2g"]
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java on PATH")
    return exe


def sources():
    graft = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not graft:
        fail("graft sources (src/main/scala) not found; run from the repository root")
    if not bench:
        fail("benchmark sources (perfbench/src) not found")
    return graft + bench


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jars beside spark-submit on the PATH,
    else the unmanagedBase directory that build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("Spark jars not found; set SPARK_HOME")
    return m.group(1)




def build():
    """Compile graft and the harness with the Scala compiler shipped among
    the Spark jars; reuse the classes while no source changed. Returns the
    classes directory and the Spark jars directory."""
    srcs = sources()
    jars_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler, scala-library and scala-reflect jars not found in " + jars_dir)
    h = hashlib.sha256()
    for path in compiler + srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        if path in srcs:
            with open(path, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, jars_dir
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp] + srcs
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    run_child(cmd, BUILD_TIMEOUT_S, capture=False)
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars_dir


def run_child(cmd, timeout, capture):
    """Run a child process to completion; kill it and fail on timeout or
    a non-zero exit. Returns its stdout when captured."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stdin=subprocess.DEVNULL, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("%s timed out after %d s" % ("run" if capture else "build", timeout))
    if proc.returncode != 0:
        if capture and out:
            sys.stdout.write(out.decode())
        fail("child exited with code %d" % proc.returncode)
    return out.decode() if capture else None


def jvm(build_out, main, args, work):
    classes, jars_dir = build_out
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java()] + JVM_HEAP + ["-Xss4m"] + ADD_OPENS + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + work,
        "-cp", os.pathsep.join([classes, os.path.join(jars_dir, "*")]),
        main] + args
    return run_child(cmd, RUN_TIMEOUT_S, capture=True)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found")
    with open(path) as f:
        return json.load(f)


def run_workload(a):
    bench = spec()
    built = build()
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--results", os.path.join(BUILD, "results")]
        out = jvm(built, "perfbench.Main", args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    res = json.loads(lines[-1])
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and a.trace:
            # a layer this workload does not exercise
            got = {"value": 0.0}
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            fail("metric %s missing from the %s result" % (m["name"], a.workload))
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def selftest():
    """Checkers reject corrupted results; one seed gives byte-identical
    inputs in two separate JVMs; different seeds give different inputs."""
    built = build()
    work = os.path.join(BUILD, "work", "selftest-%d" % os.getpid())
    try:
        first = jvm(built, "perfbench.SelfTest", [], work)
        second = jvm(built, "perfbench.SelfTest", [], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(first)
    problems = [l for l in first.splitlines() if l.startswith("FAIL")]
    if first != second:
        problems.append("FAIL same seed gave different inputs in two JVMs")
    digests = [l.split()[-1] for l in first.splitlines() if l.startswith("digest")]
    if len(set(digests)) != len(digests):
        problems.append("FAIL different seeds gave identical inputs")
    for p in problems:
        print(p)
    print("selftest " + ("FAILED" if problems else "passed"))
    sys.exit(1 if problems else 0)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        selftest()
    elif not a.workload:
        p.error("--workload is required")
    else:
        run_workload(a)


if __name__ == "__main__":
    main()
