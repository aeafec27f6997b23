import json
import os
import unittest

from bench import metrics
from bench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json names exactly the workloads and metrics the code emits."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.doc = json.load(fh)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.doc["workloads"]], list(WORKLOADS))

    def test_metrics(self):
        for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            listed = {m["name"]: (m["unit"], m["better"]) for m in self.doc[key]}
            self.assertEqual(listed, table)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.doc["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertLessEqual(bounds["setup_s"], 0.25)


if __name__ == "__main__":
    unittest.main()
