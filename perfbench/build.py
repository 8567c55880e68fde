#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
with the Scala compiler that ships with the Spark jars.

The classes go to $CARGO_TARGET_DIR/classes (default .bench_build/classes,
relative to the repository root). A stamp of the sources' content skips the
compile when nothing changed. Spark jars come from $SPARK_HOME/jars, or else
from the `unmanagedBase` that build.sbt declares.

    python3 perfbench/build.py        # prints the classpath on success
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def target_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return main + bench


def build():
    """Compiles if the sources changed; returns the run classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(target_dir(), "classes")
    stamp_file = os.path.join(target_dir(), "classes.stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(target_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
