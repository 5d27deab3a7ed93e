#!/usr/bin/env python3
"""Build the engine and the benchmark from source.

Compiles the repository's `src/main/scala` together with `fsbench/src`
using the Scala compiler that ships in Spark's `jars` directory (the
engine's only dependencies are Spark's jars), so the build needs no
dependency resolution and writes only under `.bench_build/fsbench`.
A build whose sources are unchanged is reused.

Usage: python3 fsbench/build.py     # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "fsbench")
SOURCE_DIRS = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main", "scala")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("fsbench: set SPARK_HOME to a Spark 4 installation")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    files = []
    for d in SOURCE_DIRS:
        found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not found:
            sys.exit(f"fsbench: no Scala sources under {os.path.relpath(d, ROOT)}")
        files += found
    return files


def build():
    """Return the class directory for the current sources, compiling if needed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(OUT, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("fsbench: build failed")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
