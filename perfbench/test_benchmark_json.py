"""BENCHMARK.json names exactly the workloads and metrics run.py reports.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads(self):
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))

    def test_end_to_end_metrics_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.END_TO_END)
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_per_layer_metrics_and_units(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
