"""layer_diff compares counts exactly and times against the bound.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import unittest

import layer_diff


def result(jobs, run_s, pass_s):
    return {"curation_sink": {
        "workload": "curation_sink",
        "metrics": {"queries.jobs": {"value": jobs, "unit": "count"},
                    "trace.pass_s": {"value": pass_s, "unit": "s"}},
        "detail": {"units": {"plan_shards": {"jobs": jobs, "exchanges": 3, "run_s": run_s}}}}}


class LayerDiff(unittest.TestCase):
    def test_identical_runs_report_nothing(self):
        lines, changed = layer_diff.diff(result(5, 1.0, 2.0), result(5, 1.0, 2.0), 0.25)
        self.assertEqual((lines, changed), ([], 0))

    def test_sizes_tolerate_byte_noise_and_times_need_a_floor(self):
        a, b = result(5, 0.01, 2.0), result(5, 0.03, 2.0)  # +200% but 0.02 s
        a["curation_sink"]["detail"]["units"]["plan_shards"]["shuffle_read_mb"] = 1.791151
        b["curation_sink"]["detail"]["units"]["plan_shards"]["shuffle_read_mb"] = 1.791195
        self.assertEqual(layer_diff.diff(a, b, 0.25), ([], 0))
        b["curation_sink"]["detail"]["units"]["plan_shards"]["shuffle_read_mb"] = 2.5
        self.assertEqual(layer_diff.diff(a, b, 0.25)[1], 1)

    def test_bound_is_the_benchmarks_own(self):
        self.assertGreater(layer_diff.time_bound(), 0)
        self.assertLessEqual(layer_diff.time_bound(), 0.25)

    def test_counts_exact_times_against_bound(self):
        lines, changed = layer_diff.diff(result(5, 1.0, 2.0), result(6, 1.2, 3.0), 0.25)
        self.assertEqual(changed, 2)  # queries.jobs and plan_shards jobs
        self.assertIn("curation_sink plan_shards jobs: 5 -> 6", lines)
        self.assertTrue(any("trace.pass_s" in ln for ln in lines))  # +50% > 25%
        self.assertFalse(any("run_s" in ln for ln in lines))       # +20% within 25%


if __name__ == "__main__":
    unittest.main()
