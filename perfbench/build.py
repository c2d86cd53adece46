#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) with the Scala compiler that ships in
Spark's own jars directory, into `.bench_build/classes`. A stamp over the
source contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "spark-sql_*.jar")):
            return os.path.join(h, "jars")
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError("program sources (src/main/scala) not found under " + ROOT)
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
           "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
