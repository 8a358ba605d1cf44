"""BENCHMARK.json declares exactly the metrics run.py prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(run.HERE, "..", "BENCHMARK.json")) as f:
            cls.doc = json.load(f)

    def test_end_to_end_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["end_to_end"]],
                         run.END_TO_END)

    def test_per_layer_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["per_layer"]],
                         [(m, u) for m, _, _, u in run.per_layer_names()])

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.doc["workloads"]], run.WORKLOADS)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.doc["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
