"""Tests of the result-line check in run.py.

Run from the root of a checkout: python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def line(metrics, **over):
    res = {"correct": True, "attempted": 5, "failed": 0,
           "metrics": {k: {"value": 1.5, "unit": u} for k, u in metrics.items()}}
    res.update(over)
    return json.dumps(res)


class CheckResultTest(unittest.TestCase):
    def setUp(self):
        self.e2e = run.expected_metrics(False)
        self.layers = run.expected_metrics(True)

    def test_benchmark_json_has_setup_time(self):
        self.assertEqual(self.e2e["setup_s"], "s")
        self.assertTrue(self.layers)

    def test_accepts_every_promised_metric(self):
        res = run.check_result(line(self.e2e), False)
        self.assertEqual(res["attempted"], 5)
        run.check_result(line(self.layers), True)

    def test_rejects_a_missing_metric(self):
        m = dict(self.e2e)
        m.pop("setup_s")
        with self.assertRaisesRegex(ValueError, "missing"):
            run.check_result(line(m), False)

    def test_rejects_the_other_kind_of_run(self):
        with self.assertRaises(ValueError):
            run.check_result(line(self.e2e), True)

    def test_rejects_a_wrong_unit(self):
        m = dict(self.e2e)
        m["setup_s"] = "ms"
        with self.assertRaisesRegex(ValueError, "wrong unit"):
            run.check_result(line(m), False)

    def test_rejects_extra_keys_and_bad_counts(self):
        with self.assertRaises(ValueError):
            run.check_result(line(self.e2e, extra=1), False)
        with self.assertRaises(ValueError):
            run.check_result(line(self.e2e, attempted=0), False)
        with self.assertRaises(ValueError):
            run.check_result(line(self.e2e, failed=0.5), False)


if __name__ == "__main__":
    unittest.main()
