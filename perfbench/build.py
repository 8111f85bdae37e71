#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark program (perfbench/src) into one class directory.

It calls the Scala compiler that ships with Spark (SPARK_HOME/jars holds
scala-compiler, scala-library and every Spark jar), so the build needs no
dependency resolution and writes nothing outside the checkout.

    python3 perfbench/build.py        # prints the class directory

The output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench
in the checkout) and is rebuilt only when a source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(CHECKOUT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        sys.exit(f"build: no scala-compiler jar under {home}/jars (set SPARK_HOME)")
    return jars


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(CHECKOUT, base)
    return os.path.join(base, "perfbench")


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not glob.glob(os.path.join(SOURCE_DIRS[0], "**", "*.scala"), recursive=True):
        sys.exit(f"build: no engine sources under {SOURCE_DIRS[0]}")
    return sorted(files)


def build():
    """Compile if needed; return (class dir, classpath jars)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, CHECKOUT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    out = out_dir()
    classes = os.path.join(out, "classes-" + stamp)
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, jars
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources-%d.txt" % os.getpid())
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed ({r.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(out, "classes-*")):  # earlier builds
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
