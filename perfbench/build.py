#!/usr/bin/env python3
"""Builds the library and the benchmark from source with the Scala compiler
that ships in Spark's jar directory (no sbt, no network).

    python3 perfbench/build.py          # from the repository root

Outputs go to .bench_build/: lib-classes/ from src/main/scala and
bench-classes/ from perfbench/scala. Each step is skipped when the hash of
its sources matches the stamp left by the previous build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase that
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files, log):
    comp = [glob.glob(os.path.join(jars, p))[0] for p in
            ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    with open(log, "a") as fh:
        return subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT).returncode


def step(name, files, classpath, jars, log):
    out = os.path.join(build_dir(), name)
    stamp = out + ".stamp"
    want = digest(files, classpath)
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    if os.path.isfile(stamp):
        os.remove(stamp)
    if scalac(jars, classpath, out, files, log) != 0:
        raise SystemExit(f"build: compiling {name} failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(want)
    return out


def stamp(out):
    """Source hash of a build step's output directory."""
    with open(out + ".stamp") as fh:
        return fh.read()


def build():
    """Returns the classpath entries (library classes, bench classes, jars)."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib_src):
        raise SystemExit(f"build: library sources not found at {lib_src}")
    os.makedirs(build_dir(), exist_ok=True)
    log = os.path.join(build_dir(), "build.log")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    lib = step("lib-classes", sources(lib_src), jar_cp, jars, log)
    bench = step("bench-classes", sources(os.path.join(HERE, "scala")),
                 os.pathsep.join([lib, jar_cp]), jars, log)
    return [lib, bench, jar_cp]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
    sys.exit(0)
