"""Self-tests for the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(24), 50)
        self.assertEqual(metrics.tail_percentile(25), 60)
        self.assertEqual(metrics.tail_percentile(34), 70)
        self.assertEqual(metrics.tail_percentile(50), 80)
        self.assertEqual(metrics.tail_percentile(99), 80)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_reported_tail_is_supported_at_baseline_counts(self):
        # fewest request samples a run measures: serve, one pass of 9
        # rounds of 3 lookups; ingest, two passes of 13 micro-batches
        self.assertGreaterEqual(metrics.tail_percentile(27), metrics.TAIL_PCT)
        self.assertGreaterEqual(metrics.tail_percentile(26), metrics.TAIL_PCT)

    def test_percentile_estimate(self):
        xs = [5, 1, 4, 2, 3]
        # symmetric weights around the middle of a symmetric sample
        self.assertAlmostEqual(metrics.percentile(xs, 50), 3, places=6)
        self.assertEqual(metrics.percentile([7], 60), 7)
        self.assertAlmostEqual(metrics.percentile([4] * 9, 60), 4)
        self.assertAlmostEqual(metrics.percentile(range(1000), 50), 499.5, places=3)
        self.assertAlmostEqual(metrics.percentile(range(1001), 60), 600, delta=0.5)
        # rises with p and stays inside the sample
        ps = [metrics.percentile(xs, p) for p in (10, 50, 60, 90)]
        self.assertEqual(ps, sorted(ps))
        self.assertTrue(1 < ps[0] and ps[-1] < 5)
        for bad in (0, 100):
            with self.assertRaises(ValueError):
                metrics.percentile(xs, bad)

    def test_percentile_moves_smoothly_across_a_gap(self):
        # two levels, the median on the boundary between them: one more
        # sample on the high level moves a single order statistic from
        # 400 to 600, the estimate by about a tenth of that
        low = [400] * 26 + [600] * 26
        high = [400] * 25 + [600] * 27
        self.assertAlmostEqual(metrics.percentile(low, 50), 500, places=6)
        step = metrics.percentile(high, 50) - metrics.percentile(low, 50)
        self.assertTrue(0 < step < 30)


class JobIntervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([], 0, 10), 0)
        self.assertEqual(metrics.union_length([(1, 3), (2, 5)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(1, 3), (4, 5)], 0, 10), 3)
        self.assertEqual(metrics.union_length([(2, 3), (1, 6)], 0, 10), 5)
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12), (-3, -1)], 0, 10), 0)

    def test_job_and_driver_time_sum_to_wall(self):
        call = {"t0": 100.0, "t1": 160.5}
        jobs = [{"t0": 90, "t1": 110}, {"t0": 105, "t1": 120}, {"t0": 130, "t1": 200}]
        job, driver = metrics.split_call(call, jobs)
        self.assertEqual(job, 20 + 30.5)
        self.assertEqual(job + driver, call["t1"] - call["t0"])
        self.assertEqual(metrics.split_call(call, []), (0, 60.5))


class Failures(unittest.TestCase):
    def test_throws_wrong_outputs_and_wrong_oracle_ops_count(self):
        calls = [{"name": "a", "ok": True}, {"name": "a", "ok": False},
                 {"name": "b", "ok": True}, {"name": "b", "ok": True},
                 {"name": "c", "ok": True}]
        self.assertEqual(metrics.count_failures(calls, []), (5, 1))
        self.assertEqual(metrics.count_failures(calls, ["b"]), (5, 3))
        self.assertEqual(metrics.count_failures(calls, ["a", "z"]), (5, 2))


class Layers(unittest.TestCase):
    def records(self):
        return [
            {"k": "pass", "pass": -1, "t0": 0, "t1": 0, "heap_mb": 1},
            {"k": "pass", "pass": 0, "t0": 1000, "t1": 3000, "heap_mb": 2},
            {"k": "call", "id": 1, "pass": -1, "name": "s", "kind": "op", "t0": 0, "tb": 900, "t1": 1000, "ok": True},
            {"k": "call", "id": 2, "pass": 0, "name": "s", "kind": "op", "t0": 1000, "tb": 2500, "t1": 3000, "ok": True},
            {"k": "trigger", "call": 2, "run": "r", "batch": 0, "t0": 1100, "ms": 600,
             "rows": 5, "phases": {"addBatch": 500, "walCommit": 50}, "state": [
                 {"commit_ms": 7, "update_ms": 3, "rows_total": 4, "memory_bytes": 10,
                  "shards": 2}]},
            {"k": "trigger", "call": 2, "run": "r", "batch": 1, "t0": 1800, "ms": 400,
             "rows": 5, "phases": {"addBatch": 300}, "state": [
                 {"commit_ms": 5, "update_ms": 1, "rows_total": 6, "memory_bytes": 12,
                  "shards": 2}]},
            {"k": "job", "id": 0, "call": 2, "group": "r", "t0": 1100, "t1": 1600,
             "stages": 2, "tasks": 4, "task_run_ms": 800, "task_cpu_ms": 400, "gc_ms": 0,
             "launch_delay_ms": 8, "shuffle_write_bytes": 100, "shuffle_read_bytes": 100,
             "spill_bytes": 0, "input_bytes": 50, "output_bytes": 0, "output_rows": 0},
            {"k": "job", "id": 1, "call": 2, "group": "", "t0": 2600, "t1": 2900,
             "stages": 1, "tasks": 1, "task_run_ms": 300, "task_cpu_ms": 200, "gc_ms": 0,
             "launch_delay_ms": 1, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
             "spill_bytes": 0, "input_bytes": 9, "output_bytes": 0, "output_rows": 0},
        ]

    def test_stream_call_accounting(self):
        m = {k: v for k, (v, _) in metrics.layers(self.records()).items()}
        self.assertEqual(m["call.build_s"], 1.5)
        self.assertEqual(m["call.job_s"] + m["call.driver_s"], 2.0)
        self.assertEqual(m["call.job_s"], 0.8)
        self.assertEqual(m["streaming.triggers"], 2)
        self.assertEqual(m["streaming.jobs_per_trigger"], 0.5)
        # build time = triggers + start/stop
        self.assertEqual(m["streaming.start_stop_s"], 0.5)
        self.assertEqual(m["state.commit_ms"], 12)
        self.assertEqual(m["state.rows_total"], 6)
        # first (warm-up) call minus the median warm call
        self.assertEqual(m["capital.build_s"], -1.0)
        self.assertEqual(m["scheduler.tasks"], 5)


if __name__ == "__main__":
    unittest.main()
