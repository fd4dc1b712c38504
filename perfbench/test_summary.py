"""Self-tests of the benchmark's summary code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import summary


def span(i, parent, start, end, kind="op", **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": str(i),
            "start_us": start, "end_us": end, "attrs": attrs}


def call(p, op, rows=10, sig="7", error=None, traced=False, total=1.0, family="join"):
    return {"pass": p, "op": op, "family": family, "traced": traced, "span": 0,
            "call_s": 0.1, "total_s": total, "rows": rows, "sig": sig,
            "error": error, "codegen_fallbacks": 0}


class MedianAndPercentile(unittest.TestCase):
    def test_median(self):
        self.assertEqual(summary.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(summary.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(summary.median([]), 0.0)

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(summary.supported_percentile(list(range(19))))
        self.assertEqual(summary.supported_percentile(list(range(20)))[0], 50)
        self.assertEqual(summary.supported_percentile(list(range(99)))[0], 50)
        self.assertEqual(summary.supported_percentile(list(range(100)))[0], 90)
        self.assertEqual(summary.supported_percentile(list(range(200)))[0], 95)
        self.assertEqual(summary.supported_percentile(list(range(1000)))[0], 99)
        self.assertEqual(summary.supported_percentile(list(range(10000)))[0], 99.9)

    def test_percentile_value_is_nearest_rank(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(summary.supported_percentile(xs), (90, 90.0))
        self.assertEqual(summary.supported_percentile(list(reversed(xs))), (90, 90.0))


class ErrorRate(unittest.TestCase):
    def result(self, calls):
        return {"calls": calls}

    def test_rate(self):
        self.assertEqual(summary.error_rate(8, 2), 0.25)
        self.assertEqual(summary.error_rate(0, 0), 1.0)

    def test_clean_run(self):
        r = self.result([call(-1, "a"), call(0, "a"), call(1, "a"), call(-1, "b"), call(0, "b")])
        self.assertEqual(summary.failures(r, {})[:2], (3, 0))

    def test_exception_and_changed_output_fail_only_their_call(self):
        r = self.result([call(-1, "a"), call(0, "a", error="boom"), call(1, "a", sig="8"),
                         call(2, "a")])
        attempted, failed, reasons = summary.failures(r, {})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(reasons["a"], "boom")

    def test_oracle_mismatch_fails_every_call_of_the_op(self):
        r = self.result([call(-1, "a"), call(0, "a"), call(1, "a"), call(-1, "b"), call(0, "b")])
        attempted, failed, reasons = summary.failures(r, {"a": "rows 9 != oracle 10"})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertIn("a", reasons)

    def test_failed_warmup_fails_the_op(self):
        r = self.result([call(-1, "a", error="timeout after 60s"), call(0, "a")])
        self.assertEqual(summary.failures(r, {})[:2], (1, 1))


class SelfTime(unittest.TestCase):
    def test_nested_children_leave_the_uncovered_rest(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30, "job"), span(3, 1, 50, 90, "job"),
                 span(4, 2, 12, 28, "stage")]
        s = summary.self_times(spans)
        self.assertEqual(s[1], 100 - 20 - 40)
        self.assertEqual(s[2], 20 - 16)
        self.assertEqual(s[3], 40)
        self.assertEqual(s[4], 16)
        self.assertEqual(sum(s.values()), 100)

    def test_overlapping_siblings_split_shared_time(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60, "job"), span(3, 1, 40, 100, "job")]
        s = summary.self_times(spans)
        self.assertEqual(s[1], 0)
        self.assertEqual(s[2], 40 + 10)
        self.assertEqual(s[3], 40 + 10)
        self.assertAlmostEqual(sum(s.values()), 100)

    def test_children_are_clamped_to_the_parent(self):
        spans = [span(1, 0, 1000, 2000), span(2, 1, 900, 1500, "job")]
        s = summary.self_times(spans)
        self.assertEqual(s[2], 500)
        self.assertEqual(s[1], 500)

    def test_union_len(self):
        self.assertEqual(summary.union_len([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(summary.union_len([(-5, 10), (90, 120)], 0, 100), 20)
        self.assertEqual(summary.union_len([], 0, 100), 0)


class EndToEnd(unittest.TestCase):
    def test_metrics_are_medians_over_untraced_passes(self):
        r = {"setup": {"session_s": 1.0, "generate_s": [5.0, 2.0, 3.0], "warmup_s": 10.0},
             "passes": [{"pass": -1, "traced": False, "wall_s": 99.0, "heap_peak_mb": 900.0},
                        {"pass": 0, "traced": False, "wall_s": 4.0, "heap_peak_mb": 100.0},
                        {"pass": 1, "traced": True, "wall_s": 50.0, "heap_peak_mb": 500.0},
                        {"pass": 2, "traced": False, "wall_s": 6.0, "heap_peak_mb": 300.0}],
             "calls": [call(0, "a", total=1.0), call(0, "b", total=2.0, family="sweep"),
                       call(2, "a", total=3.0), call(2, "b", total=2.0, family="sweep"),
                       call(1, "a", total=40.0, traced=True)]}
        metrics, families, walls = summary.end_to_end(r)
        self.assertEqual(metrics, {"setup_s": 14.0, "wall_s": 5.0, "peak_heap_mb": 200.0})
        self.assertEqual(families["join_s"], (2.0, 2))
        self.assertEqual(families["sweep_s"], (2.0, 2))
        self.assertEqual(walls, [4.0, 6.0])


if __name__ == "__main__":
    unittest.main()
