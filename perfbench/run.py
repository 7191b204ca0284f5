#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt compiles against the
program's own build one directory up) and records the classpath under
perfbench/.build, keyed on a hash of the sources of both builds; later runs
reuse it until those sources change. Generated inputs, caches and Spark's
scratch files go to a directory under perfbench/.work that is removed when
the run ends; traced runs leave their spans under perfbench/.out.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath")
WORKLOADS = ("survey_analysis", "near_dups")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_hash():
    """A hash of every file that goes into the program's or the benchmark's build."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, subdirs, names in os.walk(r):
            # not sbt's own output: target/ anywhere, project/project/
            subdirs[:] = sorted(s for s in subdirs if s != "target"
                                and not (s == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    key = sources_hash()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        if cached.get("sources") == key:
            return cached["classpath"]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources are not in this checkout; nothing to build")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        built = subprocess.run(["sbt", "-batch", "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                               timeout=840)
    except subprocess.TimeoutExpired:
        fail("the build did not finish in 840 s")
    lines = built.stdout.strip().splitlines()
    if built.returncode != 0 or not lines:
        sys.stderr.write(built.stdout)
        fail(f"the build failed (exit {built.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH + ".tmp", "w") as f:
        json.dump({"sources": key, "classpath": lines[-1]}, f)
    os.replace(CLASSPATH + ".tmp", CLASSPATH)
    return lines[-1]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = classpath()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(HERE, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # a fixed initial heap and ceiling, independent of the machine's
           # memory; between them the heap, and so the resident set, grows
           # with what the program keeps
           "-Xms256m", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out]
    try:
        ran = subprocess.run(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                             timeout=170)
    except subprocess.TimeoutExpired:
        fail("the run did not finish in 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = ran.stdout.strip().splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if ran.returncode != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        fail(f"the run failed (exit {ran.returncode}) without a result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
