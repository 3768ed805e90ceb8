#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's sources
(`src/main/scala` at the repository root) together with the runner
(`graftbench/src`) into `.bench_build/classes` with the Scala compiler
that ships in the Spark distribution, so no sbt state outside the
checkout is read or written.

A stamp of the source tree's content hash skips the compile when
nothing changed. Usage: python3 graftbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME"),
             submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("graftbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise SystemExit(f"graftbench: graft sources not found under {graft}")
    files = []
    for base in (graft, os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("graftbench: compile failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
