#!/usr/bin/env python3
"""Tests of the benchmark itself, on the tiny inputs (perfbench/data/tiny).

Each workload runs once at tiny scale. The tests check that the printed
metrics are exactly the ones BENCHMARK.json names, with its units, that
the exit code agrees with the output checks, and that the command fails
without printing a result when the engine sources are missing.

Usage: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace=0, seconds=2):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


class TinyRuns(unittest.TestCase):
    def check_shape(self, result, section):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = {n: m["unit"] for n, m in result["metrics"].items()}
        self.assertEqual(got, want)

    def test_workloads_pass_and_print_the_end_to_end_metrics(self):
        timed = {w["name"] for w in SPEC["workloads"]}
        for name in sorted(timed | {"offline_features", "online_serve"}):
            with self.subTest(workload=name):
                code, result = run(name)
                self.assertEqual(code, 0, result)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.check_shape(result, "end_to_end")
                for metric, m in result["metrics"].items():
                    self.assertGreater(m["value"], 0, metric)

    def test_traced_run_prints_the_per_layer_metrics(self):
        # long enough that the embedded replay reaches its first PUT
        code, result = run("online_ingest", trace=1, seconds=8)
        self.assertEqual(code, 0, result)
        self.check_shape(result, "per_layer")
        m = {n: v["value"] for n, v in result["metrics"].items()}
        self.assertGreater(m["sql.serve_ms"], 0)
        self.assertGreater(m["catalog.put_ms"], 0)
        self.assertGreater(m["trace.spans"], 0)
        self.assertEqual(m["Dedup.exact_s"], 0)

    def test_exit_code_follows_the_output_checks(self):
        # concurrent PUTs from several clients: passes or fails with the
        # engine, but the exit code must say which
        code, result = run("online_ingest_concurrent")
        self.assertIsNotNone(result)
        self.assertEqual(code == 0, result["correct"] and result["failed"] == 0)

    def test_refuses_to_run_without_the_engine_sources(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH_DIR, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("data"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "online_ingest"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
