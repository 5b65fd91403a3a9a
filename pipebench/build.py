#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together with
the benchmark's own Scala sources into one class directory under the build
directory, with the Scala compiler that ships among the Spark jars.

The output directory is keyed by a hash of every input source, so a checkout
builds once and a changed source rebuilds. Writes only under the build dir.

Usage: build.py [build_dir]    (default: .bench_build at the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(RuntimeError):
    pass


def spark_jars() -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _files(d: str, suffix: str = "") -> list:
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build(build_dir: str) -> str:
    """Return the class directory, compiling it first when it is missing."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError(f"program sources not found at {os.path.relpath(SOURCE_DIRS[0], ROOT)}")
    sources = [f for d in SOURCE_DIRS for f in _files(d, ".scala")]
    resources = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes

    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(spark_jars(), "*")
    log = os.path.join(build_dir, "scalac.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
             f"-XX:ErrorFile={build_dir}/hs_err_%p.log", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise BuildError(f"scalac failed (exit {rc}):\n{tail}")
    for r in resources:
        dst = os.path.join(tmp, os.path.relpath(r, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
    except BuildError as e:
        sys.exit(f"build: {e}")
