"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

The workload test runs the full benchmark once per workload (about a
minute each): every run checks that each timed `noop` plan kept the
Window, Aggregate, Join, Generate and Expand nodes of the query's own
optimized plan, and that every output matches the DuckDB oracle.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


class WorkloadTest(unittest.TestCase):
    def test_each_workload_keeps_its_plans_and_matches_the_oracle(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", "1", "--seconds", "1", "--trace", "0"],
                    cwd=run.ROOT, capture_output=True, text=True, timeout=900)
                lines = p.stdout.strip().splitlines()
                self.assertEqual(p.returncode, 0, p.stderr[-2000:] + p.stdout[-2000:])
                info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
                self.assertEqual(info["failures"], {})
                self.assertTrue(result["correct"])
                self.assertEqual(set(result["metrics"]), set(run.END_TO_END))


if __name__ == "__main__":
    unittest.main()
