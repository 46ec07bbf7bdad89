"""Compiles the program and the benchmark harness into one class tree.

The program's own sources (src/main/scala) and the harness
(perfbench/src) are compiled together with the Scala compiler that
ships in Spark's jar directory, so the build needs no build tool and
writes only under the build directory. Each class tree is named by a
hash over every source file, so a run skips the compile when a tree for
its sources exists, also when checkouts of two commits take turns.

Usage: python3 perfbench/build.py    (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must name a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the class directory, compiling first if any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    # compiled aside and renamed when done: a tree under the final name
    # is always complete
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", staging, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    os.rename(staging, classes)
    return classes


if __name__ == "__main__":
    print(build())
