#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload NAME [--seed N] [--seconds S]
                           [--trace 0|1] [--scale full|tiny]

Workloads (see perfbench/README.md): offline_features, llm_pipeline,
online_serve, online_ingest. Each run builds the engine from source if
needed (perfbench/build.py), then starts a fresh JVM with a local Spark
session of one core per available CPU. The last line printed is one JSON
object {"correct", "attempted", "failed", "metrics"}; the command exits 1
when an output check failed and 2 on a usage or build error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("offline_features", "llm_pipeline", "online_ingest", "online_serve",
             "online_ingest_concurrent")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def run_jvm(jar, jvm_opts, workload, seed, seconds, trace, scale):
    """Run one workload in a fresh JVM; return (exit code, result or None)."""
    work = os.path.join(build.BUILD_DIR, "run", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    trace_dir = os.path.join(build.BUILD_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += jvm_opts + [
        "-Xms3g", "-Xmx3g",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(build.BENCH_DIR, 'log4j2.properties')}",
        "-cp", os.pathsep.join([jar] + build.spark_jars()),
        "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--scale", scale, "--cores", str(cores()),
        "--data", os.path.join(build.BENCH_DIR, "data", scale),
        "--work", work, "--result", result_file, "--trace-dir", trace_dir,
    ]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 1
    result = None
    if os.path.exists(result_file):
        with open(result_file) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return code, result


def class_archive(jar):
    """JVM options that load classes from a class-data archive made for
    `jar`: it cuts JVM and Spark start-up by several seconds a run. The
    archive is made once, by a short tiny-scale run, as part of the build."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if not os.path.exists(jsa) and not os.path.exists(jsa + ".failed"):
        print("[perfbench] recording the class-data archive", file=sys.stderr, flush=True)
        code, _ = run_jvm(jar, [f"-XX:ArchiveClassesAtExit={jsa}"],
                          "online_ingest", 1, 1, 0, "tiny")
        if code != 0 or not os.path.exists(jsa):
            open(jsa + ".failed", "w").close()
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        jar = build.ensure()
    except (SystemExit, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    code, result = run_jvm(jar, class_archive(jar), args.workload, args.seed,
                           args.seconds, args.trace, args.scale)
    if result is None:
        print(f"[perfbench] the run wrote no result (exit code {code})", file=sys.stderr)
        return code or 1
    print(json.dumps(result), flush=True)
    if code != 0 or not result["correct"]:
        return code or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
