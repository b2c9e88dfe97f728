"""BENCHMARK.json names exactly the metrics run.py and layers.py emit.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import json
import unittest
from pathlib import Path

import layers
import run

ROOT = Path(run.__file__).resolve().parent.parent


class Contract(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_metrics(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]}, run.E2E_UNITS)
        names = [m["name"] for m in self.spec["end_to_end"]]
        self.assertIn("setup_s", names)
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))

    def test_per_layer_metrics(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]}, layers.UNITS)


if __name__ == "__main__":
    unittest.main()
