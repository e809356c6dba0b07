"""Tests of the benchmark's metric rules.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class TailLevelTest(unittest.TestCase):

    def test_ten_samples_beyond_the_chosen_percentile(self):
        for n in range(1, 2000):
            p = stats.tail_level(n)
            if p != 50 or n >= 20:
                self.assertGreaterEqual(n * (100 - p) / 100, stats.MIN_BEYOND,
                                        f"n={n} p={p}")

    def test_picks_the_highest_percentile_allowed(self):
        self.assertEqual(stats.tail_level(1000), 99)
        self.assertEqual(stats.tail_level(200), 95)
        self.assertEqual(stats.tail_level(100), 90)
        self.assertEqual(stats.tail_level(99), 75)
        self.assertEqual(stats.tail_level(40), 75)
        self.assertEqual(stats.tail_level(39), 50)

    def test_falls_back_to_the_median(self):
        self.assertEqual(stats.tail_level(3), 50)


class PercentileTest(unittest.TestCase):

    def test_interpolates_like_numpy(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)

    def test_rejects_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class EndToEndTest(unittest.TestCase):

    def raw(self):
        ops = ([{"kind": "a", "seconds": s} for s in (1.0, 2.0, 3.0)] +
               [{"kind": "b", "seconds": s} for s in (4.0, 4.0)])
        return {"ops": ops, "session_start_s": 2.0,
                "setup_s": 3.0, "window_s": 10.0}

    def test_metrics(self):
        m = {k: v for k, (v, _) in stats.end_to_end(self.raw()).items()}
        self.assertEqual(m["setup_s"], 5.0)            # session + set-up
        self.assertEqual(m["mix_total_s"], 6.0)        # 2 + 4
        self.assertAlmostEqual(m["mix_geomean_ms"], 8 ** 0.5 * 1e3)
        self.assertEqual(m["ops_per_s"], 0.5)

    def test_serving_view_reports_the_allowed_tail(self):
        raw = dict(self.raw(), ops=[{"kind": "r", "seconds": i / 100}
                                    for i in range(1, 41)])
        v = {k: x for k, (x, _) in stats.workload_view("serve_mix", raw).items()}
        self.assertAlmostEqual(v["serve_p50_ms"], 205.0)
        self.assertAlmostEqual(v["serve_p75_ms"], 302.5)  # 40 samples: p75
        self.assertEqual(v["serve_rps"], 4.0)

    def test_every_metric_has_a_unit(self):
        views = [stats.workload_view(w, self.raw(), 100)
                 for w in ("catalog_mix", "cdc_loop", "serve_mix")]
        for metrics in [stats.end_to_end(self.raw())] + views:
            for name, (_, unit) in metrics.items():
                self.assertTrue(unit, name)


if __name__ == "__main__":
    unittest.main()
