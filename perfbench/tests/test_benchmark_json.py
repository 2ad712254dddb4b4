"""BENCHMARK.json and the metrics run.py prints stay in step.

Run from the repository root: `python3 -m unittest discover -s perfbench/tests`
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.doc = json.load(fh)

    def test_metric_names_and_units_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["per_layer"]],
                         run.PER_LAYER)

    def test_workloads_match(self):
        self.assertEqual(sorted(w["name"] for w in self.doc["workloads"]),
                         sorted(run.WORKLOADS))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.doc["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))


if __name__ == "__main__":
    unittest.main()
