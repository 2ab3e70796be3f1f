#!/usr/bin/env python3
"""Tests of the benchmark's own code.

    python3 kgperf/test.py

Run from the repository root. Runs the Scala self-test (generators are
pure functions of (seed, size), the digest ignores order and partitioning,
kg_dup plants exactly its stated rows) and checks, on small inputs, that
untraced and traced runs emit exactly the metric names BENCHMARK.json
declares and pass their own output checks.
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def bench(*args):
    p = subprocess.run([sys.executable, RUN] + list(args), capture_output=True, text=True,
                       timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


class BenchmarkTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open("BENCHMARK.json") as f:
            cls.spec = json.load(f)

    def test_scala_self_test(self):
        rc, lines = bench("--self-test")
        self.assertEqual(rc, 0, "\n".join(lines))
        self.assertIn("self-test passed", lines)

    def check_run(self, workload, trace, size):
        rc, lines = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", str(trace), "--size", str(size))
        self.assertEqual(rc, 0, "\n".join(lines))
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        declared = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_metric_names(self):
        for w in ("kg_build", "kg_dup", "canon_dict"):
            with self.subTest(workload=w):
                self.check_run(w, 0, 400)

    def test_traced_metric_names(self):
        # canon_dict takes its kg-layer figures from a companion corpus
        for w in ("kg_dup", "canon_dict"):
            with self.subTest(workload=w):
                self.check_run(w, 1, 400)


if __name__ == "__main__":
    unittest.main()
