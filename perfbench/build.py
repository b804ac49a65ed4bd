#!/usr/bin/env python3
"""Build file of the graft benchmark: compiles graft's main sources and the
benchmark's Scala program (perfbench/src) with the Scala compiler that ships
in the Spark distribution, into .bench_build/classes at the checkout root.

No sbt, no dependency resolution: the classpath is the Spark jar directory
($SPARK_HOME/jars, or the jars next to the spark-submit on PATH) plus the
compiled classes. A content stamp over every compiled source skips the
compile when nothing changed, so only the first run in a checkout pays.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of the first Spark distribution that ships a Scala compiler:
    $SPARK_HOME, then the home of each spark-submit along PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError(f"graft sources not found at {GRAFT_SRC}: run from a checkout of the repo")
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def source_id(files):
    """sha256 over the relative path and bytes of every compiled source."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile when stale; return (classpath list, source id)."""
    jars = spark_jars()
    files = sources()
    sid = source_id(files)
    cp = [CLASSES] + jars
    if os.path.exists(STAMP) and open(STAMP).read().strip() == sid:
        return cp, sid
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jar_cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-d", CLASSES, "-classpath", jar_cp] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac failed with code {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(sid + "\n")
    return cp, sid


if __name__ == "__main__":
    try:
        classpath, _ = build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(classpath))
