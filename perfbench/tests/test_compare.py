"""Tests for the compare command's verdicts."""
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import compare  # noqa: E402

STEADY = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00]


class VerdictTest(unittest.TestCase):
    def test_same_code_is_same(self):
        self.assertEqual(compare.verdict(STEADY, STEADY, 0.1, "lower"), "same")

    def test_small_change_within_bound_is_same(self):
        new = [x * 1.05 for x in STEADY]
        self.assertEqual(compare.verdict(STEADY, new, 0.1, "lower"), "same")

    def test_slower_beyond_bound_regresses(self):
        new = [x * 1.3 for x in STEADY]
        self.assertEqual(compare.verdict(STEADY, new, 0.1, "lower"), "regressed")

    def test_faster_beyond_bound_improves(self):
        new = [x * 0.7 for x in STEADY]
        self.assertEqual(compare.verdict(STEADY, new, 0.1, "lower"), "improved")

    def test_direction_follows_better(self):
        new = [x * 0.7 for x in STEADY]
        self.assertEqual(compare.verdict(STEADY, new, 0.1, "higher"), "regressed")
        self.assertEqual(compare.verdict(new, STEADY, 0.1, "higher"), "improved")

    def test_noisy_side_is_unresolved(self):
        noisy = [0.6, 1.4, 0.8, 1.2, 1.0, 0.7, 1.3, 0.9, 1.1, 1.0]
        self.assertEqual(compare.verdict(STEADY, noisy, 0.1, "lower"), "unresolved")
        self.assertEqual(compare.verdict(noisy, STEADY, 0.1, "lower"), "unresolved")
        # the same noise is resolved under a looser bound
        self.assertNotEqual(compare.verdict(STEADY, noisy, 0.5, "lower"), "unresolved")

    def test_constant_metric(self):
        ones = [1.0] * 10
        self.assertEqual(compare.verdict(ones, ones, 0.01, "higher"), "same")
        self.assertEqual(compare.verdict(ones, [0.9] * 10, 0.01, "higher"), "regressed")


class LoadTest(unittest.TestCase):
    def test_reads_untraced_records_only(self):
        with tempfile.TemporaryDirectory() as d:
            for i, (trace, v) in enumerate([(0, 1.0), (0, 2.0), (1, 9.0)]):
                rec = {"workload": "w", "trace": trace, "result": {
                    "metrics": {"pass_s": {"value": v, "unit": "s"}}}}
                Path(d, f"r{i}.json").write_text(json.dumps(rec))
            Path(d, "r-spans.json").write_text("[]")
            self.assertEqual(compare.load(d), {"w": {"pass_s": [1.0, 2.0]}})


if __name__ == "__main__":
    unittest.main()
