#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/scala) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes. No sbt, no network.

Usage: python3 perfbench/build.py   (from the repository root)

A build is skipped when a stamp of every source file's content matches
the last successful build. The Spark install is found from SPARK_HOME,
or from `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"
SCALAC_OPTS = ["-nowarn"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark install with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in found):
        raise BuildError("engine sources (src/main/scala) not found")
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, RESOURCES),
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == want:
                return
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-d", tmp] + \
        SCALAC_OPTS + files
    print(f"[perfbench] compiling {len(files)} files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
