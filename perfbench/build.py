#!/usr/bin/env python3
"""Build file for the graft benchmark.

Compiles graft's main sources (``src/main/scala`` at the repository root)
together with the benchmark's own sources (``perfbench/src``) into
``perfbench/.build/<hash>/classes``, with the Scala compiler and Spark jars
that ship in ``$SPARK_HOME/jars`` (or beside the ``spark-submit`` on PATH).
The hash covers every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(HERE, ".build")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of $SPARK_HOME, or else of the first Spark
    distribution whose ``bin/spark-submit`` is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    found = []
    for top in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compiler_classpath():
    jars = [os.path.join(spark_jars(), f"scala-{n}-{SCALA_VERSION}.jar")
            for n in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise BuildError(f"Scala compiler jars missing: {', '.join(missing)}")
    return os.pathsep.join(jars)


def build():
    """Returns the classes directory, compiling it first if needed."""
    files = sources()
    target = os.path.join(BUILD_DIR, source_hash(files))
    classes = os.path.join(target, "classes")
    if os.path.isfile(os.path.join(target, "done")):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", compiler_classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes,
           "-cp", os.path.join(spark_jars(), "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(target, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(target, "done"), "w").close()
    return classes


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    try:
        print(classpath(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
