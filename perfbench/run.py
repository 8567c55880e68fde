#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py), then
runs perfbench.Bench in one JVM. The last line of standard output is the
JSON result. Exits non-zero, without a result, when the build or the run
fails.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main(argv):
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(build.target_dir(), "work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    main_class = "perfbench.SelfTest" if argv == ["--selftest"] else "perfbench.Bench"
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # C1 only: with C2, JIT compiler threads take 75-100 s of CPU during
        # a 35 s build on 4 cores and make build time vary +-15% between
        # processes; C1 builds as fast with a fraction of that spread. C1
        # alone defaults to a 48 MB code cache, which a build's generated
        # classes fill (the JIT then switches off), so keep the tiered size.
        "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={work}",
        f"-Dperfbench.work={work}",
        f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
        "-cp", classpath, main_class] + argv
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"run failed with exit code {proc.returncode}", file=sys.stderr)
        return proc.returncode
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
