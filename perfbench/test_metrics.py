"""Tests for the benchmark's statistics: python3 -m unittest discover perfbench"""
import unittest

import metrics


def op(s, ok=True, rows=10, skew=1.0, amp=1.0):
    return {"name": "op", "s": s, "ok": ok, "rows": rows, "skew": skew,
            "write_amp": amp, "error": ""}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertEqual(metrics.percentile(xs, 1), 1)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)
        with self.assertRaises(ValueError):
            metrics.percentile([1], 0)


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        value, pct, beyond = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_median_is_the_lowest_tail(self):
        self.assertEqual(metrics.tail(list(range(1, 21))), (10, 50.0, 10))

    def test_too_few_samples_report_the_90th_percentile(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 0))
        self.assertEqual(metrics.tail(list(range(1, 17))), (15, 93.75, 1))
        self.assertEqual(metrics.tail(list(range(19))), (17, 100.0 * 18 / 19, 1))


class EndToEndTest(unittest.TestCase):
    def run_of(self, ops, lookups=()):
        return {"setup_s": 3.0, "op_timeout_s": 60.0,
                "phases": [{"ops": ops, "lookups": list(lookups),
                            "heap_mb": 70.0, "truncated": False}]}

    def test_failed_op_is_kept_and_counts_as_the_timeout(self):
        m, summary, attempted, failed = metrics.end_to_end(
            self.run_of([op(1.0), op(0.5, ok=False)]))
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(summary["failed_frac"], 0.5)
        # the failure's own short time still counts toward throughput ...
        self.assertAlmostEqual(m["ops_per_s"][0], 2 / 1.5)
        # ... and as a latency it misses every limit
        self.assertEqual(m["op_tail_s"][0], 60.0)

    def test_metrics(self):
        ops = [op(2.0, rows=100, skew=1.2, amp=1.1), op(1.0, rows=100, skew=1.0, amp=0.9)]
        lookups = [{"s": 0.2, "ok": True, "rows": 1}, {"s": 0.4, "ok": True, "rows": 1}]
        m, _, attempted, failed = metrics.end_to_end(self.run_of(ops, lookups))
        self.assertEqual((attempted, failed), (4, 0))
        self.assertEqual(m["setup_s"][0], 3.0)
        self.assertAlmostEqual(m["rows_per_s"][0], 200 / 3)
        self.assertAlmostEqual(m["shard_skew"][0], 1.1)
        self.assertAlmostEqual(m["write_amp"][0], 1.0)
        # an even count of samples has the mean of the middle two as median
        self.assertAlmostEqual(m["lookup_p50_ms"][0], 300.0)
        self.assertEqual(m["op_p50_s"][0], 1.5)


if __name__ == "__main__":
    unittest.main()
