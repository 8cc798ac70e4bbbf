#!/usr/bin/env python3
"""Build file of the benchmark: compile the validator's main sources and the
harness in hepbench/src into <out>/classes.

    python3 hepbench/build.py [<out dir, default .bench_build>]

Run it from the root of a checkout. It uses the Scala compiler that ships
with Spark ($SPARK_HOME/jars, else the jar directory that build.sbt names)
and skips the compile while the sources and jars match the stamp of the
last build. run.py calls it before every run.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def fail(msg, code=2):
    print(f"hepbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(root, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory: set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no validator sources under src/main/scala: run from the root of a checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(root, out, jars):
    """Compile into out/classes unless the stamp shows the same sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)

    def jar(prefix):
        found = glob.glob(os.path.join(jars, prefix + "-*.jar"))
        if not found:
            fail(f"no {prefix} jar in {jars}")
        return found[0]

    compiler = os.pathsep.join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), *srcs])
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"hepbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"),
          spark_jars(root))
