#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny input size.

    python3 perfbench/test_smoke.py

Runs every workload of BENCHMARK.json untraced and traced, and asserts that each run is correct, prints every metric that
BENCHMARK.json names with its unit, and passes every oracle check. Also
asserts that a directory holding only BENCHMARK.json and perfbench/ makes the
benchmark fail without printing a result. Takes a few minutes: JVM and Spark
start-up dominate at this size.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, cwd: Path = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.2"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check_run(self, workload: str, trace: int, expected: dict):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        for name, unit in expected.items():
            self.assertIn(name, result["metrics"])
            self.assertEqual(result["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(result["metrics"][name]["value"], (int, float), name)
        checks = [line for line in lines if line.startswith("# check ")]
        self.assertTrue(checks)
        for line in checks:
            self.assertTrue(line.endswith(": ok"), line)
        return result

    def test_end_to_end_metrics(self):
        expected = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = self.check_run(w["name"], 0, expected)
                self.assertEqual(set(r["metrics"]), set(expected))
                for name in expected:
                    self.assertGreater(r["metrics"][name]["value"], 0, name)

    def test_per_layer_metrics(self):
        expected = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = self.check_run(w["name"], 1, expected)
                self.assertEqual(set(r["metrics"]), set(expected))

    def test_fails_without_the_library(self):
        bare = HERE / ".work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
        try:
            p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
