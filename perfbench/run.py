#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload olap_shards --seed 1 --seconds 10 --trace 0

`--workload all` runs the three workloads in turn and prints one result
line per workload, each prefixed with the workload's name.

Builds the library and the benchmark from source with sbt the first time
(or when a source file is newer than the last build), then runs one JVM
for the workload. The JVM writes its inputs, Spark scratch space and the
span file of a traced run under .perfbench_work/ at the root of the
checkout, and deletes the inputs when it ends. The last line of stdout is
the JSON result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("olap_shards", "shard_publish", "corpus_dedup")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# What spark-submit would pass to a JDK 17 JVM (the enclosing build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile with sbt and record the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found next to perfbench/")
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = out[-1].strip()
    if ".jar" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    if a.workload == "all":
        for w in WORKLOADS:
            print(w, json.dumps(run(cp, w, a.seed, a.seconds, a.trace)))
    else:
        print(json.dumps(run(cp, a.workload, a.seed, a.seconds, a.trace)))


def run(cp, workload, seed, seconds, trace):
    """One JVM for one workload; returns its parsed result line, after
    forwarding any earlier stdout lines."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xms4g", "-Xmx4g", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              "-Dlog4j2.configurationFile="
              + os.path.join(HERE, "log4j2.properties"),
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", WORK])
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {p.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        fail("last line is not a JSON result")
    for line in lines[:-1]:
        print(line)
    return result


if __name__ == "__main__":
    main()
