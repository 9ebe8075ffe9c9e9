#!/usr/bin/env python3
"""Build the graft benchmark: compile graft's main sources together with the
benchmark's own sources into perfbench/.build/classes.

Uses the Scala compiler that ships with Spark (its jars/ directory holds
scala-compiler, scala-library and every Spark jar), so the build needs no
build tool, no network and writes nothing outside this checkout. The build
is skipped when a content hash of every input source matches the last
successful build.

Usage (from the checkout root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BUILD = os.path.join(ROOT, "perfbench", ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "sources.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
    return home


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        sys.exit(f"build: no scala-compiler jar under {home}/jars")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath (a list of entries)."""
    jars = spark_jars()
    srcs = sources()
    want = digest(srcs)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return [CLASSES] + jars
    if os.path.exists(STAMP):
        os.remove(STAMP)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"build: scalac failed with code {res.returncode}")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return [CLASSES] + jars


if __name__ == "__main__":
    build()
