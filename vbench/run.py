#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print the run's result as the last line of standard output.

    python3 vbench/run.py --workload serve --seed 1 --seconds 30 --trace 0
    python3 vbench/run.py --self-test

Both workloads generate their collection from the seed, and run a fixed
subset of the engine's query registry on the fixture tables in
vbench/fixture/sf0.01.

Run it from the root of a source tree. The first run compiles
src/main/scala and vbench/src with the Scala compiler that ships with
Spark ($SPARK_HOME/jars, else the jar directory build.sbt names) into
.bench_build/; later runs reuse the classes while the sources are
unchanged. Everything
a run writes stays under .bench_build/ and is removed at exit, except
the compiled classes.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "vbench")
RUN_TIMEOUT_S = {"serve": 170, "ingest": 170, None: 600}
FIXTURE = os.path.join(HERE, "fixture")
BASELINE = os.path.join(HERE, "registry_baseline.json")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print("vbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources(test):
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if test:
        dirs.append(os.path.join(HERE, "test"))
    files = []
    for d in dirs:
        found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not found:
            die("no Scala sources under %s; run from the root of the source tree" % d)
        files += found
    return files


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` directory of build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        die("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def jars():
    found = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not found:
        die("no Spark jars in %s" % spark_jars())
    return found


def compiled(test):
    """Classes for the current sources, compiled once per source digest."""
    srcs = sources(test)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    lib = [j for j in jars() if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(lib), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(jars())] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        die("compilation failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


def java(classes, main, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd = (["java"] + opens + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", classes + ":" + os.path.join(spark_jars(), "*"), main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run exceeded %d s" % timeout)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload not in ("serve", "ingest"):
        die("--workload must be serve or ingest")
    if a.seconds < 1:
        die("--seconds must be at least 1")
    classes = compiled(a.self_test)
    work = os.path.join(BUILD, "work-%d" % os.getpid())
    try:
        if a.self_test:
            code, out = java(classes, "vbench.SelfTest", [], work, RUN_TIMEOUT_S[None])
            sys.stdout.write(out)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--fixture", FIXTURE, "--baseline", BASELINE]
        code, out = java(classes, "vbench.Main", args, work, RUN_TIMEOUT_S[a.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if code != 0 or not lines:
        die("benchmark process exited with %d" % code)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
