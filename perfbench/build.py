#!/usr/bin/env python3
"""Build step of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes-<source hash>/.

No sbt and no network: the classpath is the Spark distribution's jars
directory, found from $SPARK_HOME or from spark-submit on the PATH. A
tree whose sources hash the same is built once.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars directory of the first Spark distribution that ships a
    Scala compiler: $SPARK_HOME, else each spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def source_hash(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:16]


def ensure(root, log=sys.stderr):
    """Returns the classes directory for the current sources, compiling
    them first when no build of exactly these sources exists."""
    jars = spark_jars()
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise RuntimeError("no program sources under src/main/scala")
    key = source_hash(root)
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, f"classes-{key}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources into {out}", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    # keep only this build; older ones belong to other source trees
    for old in glob.glob(os.path.join(base, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure(os.getcwd()))
