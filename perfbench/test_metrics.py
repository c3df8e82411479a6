"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import unittest

import metrics


class TailPercentileTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        pct, v = metrics.tail_percentile(xs)
        self.assertEqual(v, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_small_sample_has_no_tail(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2]), (0.0, 1))
        self.assertEqual(metrics.tail_percentile([]), (0.0, 0.0))

    def test_failed_ops_rank_beyond_any_limit(self):
        xs = [10.0] * 15 + [math.inf] * 5
        pct, v = metrics.tail_percentile(xs)
        self.assertEqual(v, 10.0)
        xs = [10.0] * 5 + [math.inf] * 15
        self.assertTrue(math.isinf(metrics.tail_percentile(xs)[1]))

    def test_end_to_end_bounds_a_failed_tail_by_the_region(self):
        ops = [{"wall_ms": 10.0, "ok": True}] * 5 + [{"wall_ms": 1.0, "ok": False}] * 12
        run = {"timed_s": 2.5, "setup_s": 1.0, "retained_heap_mb": 50.0}
        e2e, _ = metrics.end_to_end(run, ops)
        self.assertEqual(e2e["op_tail_ms"], 2500.0)
        self.assertEqual(e2e["ops_per_s"], 2.0)


class StealShareTest(unittest.TestCase):
    def test_share_of_all_cpu_time(self):
        quarter = {"user": 50, "system": 10, "idle": 15, "steal": 25}
        self.assertEqual(metrics.steal_share(quarter), 0.25)
        self.assertEqual(metrics.steal_share(None), 0.0)
        self.assertEqual(metrics.steal_share({}), 0.0)

    def test_gated_times_stay_wall_clock(self):
        ops = [{"wall_ms": 100.0, "ok": True}] * 20
        run = {"timed_s": 2.0, "setup_s": 10.0, "retained_heap_mb": 50.0,
               "loop_cpu": {"user": 50, "idle": 25, "steal": 25}}
        e2e, _ = metrics.end_to_end(run, ops)
        self.assertEqual(e2e["op_p50_ms"], 100.0)
        self.assertEqual(e2e["ops_per_s"], 10.0)
        self.assertEqual(e2e["setup_s"], 10.0)


class IntervalUnionTest(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(metrics.interval_union([(0, 10), (20, 25)]), 15)

    def test_overlapping_counts_once(self):
        self.assertEqual(metrics.interval_union([(0, 10), (5, 15)]), 15)

    def test_nested_counts_once(self):
        self.assertEqual(metrics.interval_union([(0, 100), (10, 20), (30, 40)]), 100)

    def test_touching_and_unsorted(self):
        self.assertEqual(metrics.interval_union([(10, 20), (0, 10), (20, 30)]), 30)

    def test_clipped_to_the_op(self):
        self.assertEqual(metrics.interval_union([(0, 100)], lo=40, hi=60), 20)
        self.assertEqual(metrics.interval_union([(0, 10)], lo=20, hi=30), 0)

    def test_sum_would_double_count(self):
        jobs = [(0, 50), (10, 60), (20, 30)]
        self.assertLess(metrics.interval_union(jobs), sum(e - s for s, e in jobs))


class AttributionTest(unittest.TestCase):
    def test_events_go_to_the_op_that_holds_them(self):
        ops = [{"start_ms": 0, "end_ms": 100, "wall_ms": 100.0},
               {"start_ms": 200, "end_ms": 300, "wall_ms": 100.0}]
        events = [{"ev": "job", "start_ms": 10, "end_ms": 50},
                  {"ev": "job", "start_ms": 20, "end_ms": 40},
                  {"ev": "job", "start_ms": 150, "end_ms": 160},   # between ops: dropped
                  {"ev": "task", "end_ms": 45, "ms": 30},
                  {"ev": "task", "end_ms": 250, "ms": 7},
                  {"ev": "qe", "start_ms": 5, "plan_ms": 3}]
        _, att = metrics.attribute(ops, events)
        self.assertEqual(att[0]["job_ms"], 40)
        self.assertEqual(len(att[0]["jobs"]), 2)
        self.assertEqual(att[0]["task_ms"], 30)
        self.assertEqual(att[0]["plan_ms"], 3)
        self.assertEqual(att[0]["outside_ms"], 60.0)
        self.assertEqual(att[1]["job_ms"], 0)
        self.assertEqual(att[1]["task_ms"], 7)


class ByteAccountingTest(unittest.TestCase):
    def op(self, op, written, user=0):
        return {"op": op, "fmt": "delta", "family": "", "ok": True, "wall_ms": 1.0,
                "start_ms": 0, "end_ms": 1, "bytes_written": written, "bytes_read": 0,
                "user_bytes": user, "data_files": -1, "meta_files": -1, "meta_bytes": -1}

    def test_write_and_storage_amplification(self):
        plain = [self.op("append", 300, user=100), self.op("upsert", 900, user=50),
                 self.op("delete", 600), self.op("maintain", 200)]
        run = {"timed_s": 1.0, "traced_timed_s": 1.0,
               "extra": {"stored_bytes": 5000, "live_bytes": 1000}}
        m = metrics.per_layer(run, plain, plain, [], cores=4)
        # every byte the commits wrote, over the bytes of the input batches
        self.assertEqual(m["storage.write_bytes_per_user_byte"], 2000 / 150)
        self.assertEqual(m["storage.stored_bytes_per_live_byte"], 5.0)

    def test_nothing_to_divide_by(self):
        self.assertEqual(metrics.ratio(10, 0), 0.0)


if __name__ == "__main__":
    unittest.main()
