#!/usr/bin/env python3
"""Builds the engine (src/main/scala) and the benchmark harness
(perfbench/scala) into one class directory with the Scala compiler that
ships with Spark. The build is skipped when the sources are unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(CLASSES, ".sources.sha256")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                             recursive=True))
    return engine + bench


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found")
    return exe


def ensure():
    """Compiles when needed; returns the class directory."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    compiler = [p for name in ("scala-compiler", "scala-library", "scala-reflect")
                for p in glob.glob(os.path.join(jars, name + "-2.13*.jar"))]
    if len(compiler) != 3:
        raise BuildError("Scala 2.13 compiler jars not found in " + jars)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD,
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    with open(os.path.join(tmp, ".sources.sha256"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
