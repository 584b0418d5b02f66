"""Tests for the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_of_100_samples_has_ten_beyond(self):
        v, n, beyond = stats.percentile(list(range(100)), 0.9)
        self.assertEqual((v, n, beyond), (89, 100, 10))

    def test_99_samples_are_too_few_for_p90(self):
        _, n, beyond = stats.percentile(list(range(99)), 0.9)
        self.assertEqual(n, 99)
        self.assertLess(beyond, stats.MIN_BEYOND)

    def test_samples_needed(self):
        self.assertEqual(stats.samples_needed(0.9), 100)
        self.assertEqual(stats.samples_needed(0.5), 20)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))

    def test_summary_reports_sample_count_and_flags_thin_tail(self):
        res = fake_result([0.1] * 40)
        out = metrics.summarize("browse", res, ([False] * 40, [None] * 40), 0, None)
        self.assertEqual(out["summary"]["samples"], 40)
        self.assertTrue(any("p90" in f for f in out["summary"]["failures"]))
        res = fake_result([0.1] * 100)
        out = metrics.summarize("browse", res, ([False] * 100, [None] * 100), 0, None)
        self.assertEqual(out["summary"]["latency_p90_beyond"], 10)
        self.assertEqual(out["summary"]["failures"], [])


class IntervalUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_operation_window(self):
        self.assertEqual(stats.union_length([(0, 10), (8, 30)], 5, 20), 15)

    def test_driver_gap_is_wall_minus_in_job(self):
        op = (0, 100)
        jobs = [(10, 40), (30, 60), (70, 80)]
        self.assertEqual(stats.self_time(op, jobs), 100 - 60)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)


def fake_result(latencies):
    ops = [{"id": i, "name": "q", "wall_s": t, "build_s": 0.0, "start_ms": i,
            "build_end_ms": i, "end_ms": i + 1, "error": None,
            "fixtures_created": []} for i, t in enumerate(latencies)]
    return {"ops": ops, "wall_s": sum(latencies), "planned": len(ops),
            "setup": {"total_s": 1.0},
            "digests": ["d"] * len(ops)}


class Checks(unittest.TestCase):
    def test_fixture_trip_and_wrong_output_fail_the_operation(self):
        res = fake_result([0.1, 0.1, 0.1])
        res["ops"][1]["fixtures_created"] = ["/x/graft_ppjoin_index_1"]
        res["digests"][2] = "other"
        failed, reasons = metrics.check("browse", res, {"browse": {"q": {"digest": "d"}}})
        self.assertEqual(failed, [False, True, True])
        self.assertIn("fixture", reasons[1])

    def test_cut_operations_count_as_failed(self):
        res = fake_result([0.1])
        res["planned"] = 3
        failed, _ = metrics.check("browse", res, {"browse": {"q": {"digest": "d"}}})
        self.assertEqual(failed, [False, True, True])


class BrowseEntries(unittest.TestCase):
    CATALOG = {
        "families": {"a": ["a1", "a2", "a3"], "b": ["b1", "b2"], "c": ["c1"]},
        "first_visit_s": {"a1": 0.9, "a2": 0.1, "a3": 0.5, "b1": 0.4, "b2": 0.2,
                          "c1": 0.3},
        "always": ["a1"],
        "fixtures": ["a1", "c1"],
    }

    def test_family_median_plus_always(self):
        entries, fixtures = run.browse_entries(self.CATALOG)
        # a: median of 0.1/0.5/0.9; b: lower middle of 0.2/0.4; then a1
        self.assertEqual(entries, ["a3", "b2", "c1", "a1"])
        self.assertEqual(fixtures, ["c1", "a1"])

    def test_shipped_catalog_covers_every_family_once(self):
        with open(os.path.join(run.HERE, "entries.json")) as f:
            catalog = json.load(f)
        entries, _ = run.browse_entries(catalog)
        fams = [next(k for k, v in catalog["families"].items() if n in v)
                for n in entries]
        self.assertEqual(sorted(set(fams)), sorted(catalog["families"]))
        self.assertIn("rel_join_bucketed", entries)


if __name__ == "__main__":
    unittest.main()
