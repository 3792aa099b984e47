#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's own Scala sources (perfbench/scala) into one jar under
.bench_build.

The Scala 2.13 compiler and every library come from the Spark distribution
($SPARK_HOME/jars, or the one whose spark-submit is on PATH), so the build
needs no network and no sbt. The jar is named by a hash of all sources, so
a checkout compiles once and later runs reuse it.

Usage: python3 perfbench/build.py   (prints the jar)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("set SPARK_HOME to a Spark 4 distribution")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit(f"no Scala compiler among the Spark jars under {home}/jars")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources missing: {ENGINE_SRC}")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    found = []
    for d, _, files in os.walk(ENGINE_RES):
        found += [os.path.join(d, f) for f in files]
    return sorted(found)


def ensure():
    """Compile if needed; return the jar."""
    srcs, res = sources(), resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jar = os.path.join(BUILD_DIR, "perfbench-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar
    tmp = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-classpath", os.pathsep.join(jars), "-d", tmp] + srcs
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    for old in glob.glob(os.path.join(BUILD_DIR, "perfbench-*")):
        os.remove(old)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)
    return jar


if __name__ == "__main__":
    print(ensure())
