#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark harness (perfbench/src) into .bench_build/classes with the Scala
compiler that ships among Spark's jars; no sbt, no network, and nothing is
written outside the checkout. A content stamp of every source skips the
compile when nothing changed.

    python3 perfbench/build.py          # compile (if stale)
    python3 perfbench/build.py test     # compile, then run the helper tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
TEST_CLASSES = os.path.join(OUT, "test-classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars the program builds against: the `unmanagedBase`
    directory the project's build.sbt names, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        jars = m.group(1)
    elif "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found in {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(*roots):
    out = []
    for root in roots:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(files, dest, classpath):
    """Compile into a scratch directory and move it into place, so an
    interrupted build never leaves a half-written class tree behind."""
    os.makedirs(OUT, exist_ok=True)
    scratch = dest + ".partial"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    argfile = os.path.join(OUT, os.path.basename(dest) + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}",
           "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", classpath,
           "-d", scratch, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(scratch, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(scratch, dest)


def ensure():
    """Compile the program and harness if the sources changed; returns
    the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    files = sources(PROGRAM_SRC, HARNESS_SRC)
    want = stamp(files)
    stamp_file = os.path.join(OUT, "classes.stamp")
    have = open(stamp_file).read().strip() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.isdir(CLASSES):
        print(f"[build] compiling {len(files)} sources", file=sys.stderr, flush=True)
        scalac(files, CLASSES, spark_jars())
        with open(stamp_file, "w") as fh:
            fh.write(want + "\n")
    return CLASSES + os.pathsep + spark_jars()


def test():
    cp = ensure()
    scalac(sources(TEST_SRC), TEST_CLASSES, cp)
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", TEST_CLASSES + os.pathsep + cp,
                           "perfbench.HelpersTest"]).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        ensure()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
