#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own sources with the Scala compiler that ships in Spark's jars
directory, into perfbench/.build/classes.

Usage: python3 perfbench/build.py          (from the repository root)

A build is skipped when the sources hash to the recorded stamp.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the classpath of the built program."""
    jars = spark_jars()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    srcs = sources()
    want = stamp(srcs)
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build())
