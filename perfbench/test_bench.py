#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class BenchTest(unittest.TestCase):
    def test_generator_and_checks(self):
        """Seeded inputs are reproducible; corrupted expectations fail."""
        p = subprocess.run(run.java("graftbench.SelfTest", "--dir", os.path.join(run.BUILD, "selftest")),
                           capture_output=True, text=True, timeout=600)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertNotIn("FAIL", p.stdout)
        self.assertGreaterEqual(p.stdout.count("\nok ") + p.stdout.startswith("ok "), 9)

    def test_metrics_match_benchmark_json(self):
        """An untraced run prints every end-to-end metric, a traced run every
        per-layer metric, exactly as BENCHMARK.json lists them."""
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"),
                                "--workload", "lakehouse_mutate", "--seed", "3",
                                "--seconds", "1", "--trace", trace],
                               capture_output=True, text=True, timeout=300)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            result = json.loads(p.stdout.splitlines()[-1])
            self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(result["correct"])
            self.assertEqual(list(result["metrics"]), [m["name"] for m in spec[key]])
            for m in spec[key]:
                self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
