#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, with the Scala compiler that ships among Spark's jars.

Usage, from the repository root: python3 perfbench/build.py

The classes land in $CARGO_TARGET_DIR/classes (default .bench_build). A
stamp over every source file and the jar list skips the compile when
nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala - run "
                 "from the repository root")
    return prog + sorted(glob.glob("perfbench/src/*.scala"))


def ensure():
    """Compile if any source changed; return the class directory."""
    out = build_dir()
    classes = os.path.join(out, "classes")
    srcs = sources()
    jars = jars_dir()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(ensure())
