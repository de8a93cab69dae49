#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's `src/main` together
with the benchmark's JVM side in `perfbench/scala` into one class directory,
with the Scala compiler that ships in Spark's jar directory.

The output goes to `perfbench/.build/<source hash>/classes` and is reused
while no source changes. Run it from the repository root:

    python3 perfbench/build.py            # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """`$SPARK_HOME/jars`: Spark, its Scala library and the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError("SPARK_HOME must point at a Spark installation with the Scala compiler")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; return the class directory. Raises on failure."""
    files = sources()
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise RuntimeError(f"no graft sources under {SOURCE_DIRS[0]}")
    out = os.path.join(HERE, ".build", source_hash(files))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
    print(f"compiling {len(files)} source files", file=log, flush=True)
    r = subprocess.run(cmd + files, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError("scalac failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    open(os.path.join(out, "ok"), "w").close()
    return classes


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(build())
