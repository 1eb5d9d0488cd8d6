"""Tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from stats import lateness_ms, median, self_times, tail, union_length  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_p99_when_the_sample_supports_it(self):
        xs = list(range(1, 2001))  # 2000 samples: p99 is rank 1980, 20 beyond it
        self.assertEqual(tail(xs), (1980, 99.0, 2000))

    def test_falls_back_to_the_highest_percentile_with_ten_beyond(self):
        xs = list(range(100, 0, -1))  # unsorted input; p99 would leave 1 beyond
        value, pct, n = tail(xs)
        self.assertEqual((value, n), (90, 100))
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(tail([]), (0.0, 0.0, 0))

    def test_median(self):
        self.assertEqual(median([5, 1, 3, 2]), 2.5)
        self.assertEqual(median([]), 0.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_clips_to_the_window(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)], 8, 22), 9)

    def test_union_of_nested_and_empty_intervals(self):
        self.assertEqual(union_length([(0, 10), (2, 3), (4, 4)]), 10)
        self.assertEqual(union_length([]), 0)

    def test_driver_time_is_wall_minus_task_covered_time(self):
        # a 100 ms request whose tasks ran on several cores at once
        tasks = [(10, 30), (12, 28), (25, 40), (70, 90)]
        covered = union_length(tasks, 0, 100)
        self.assertEqual(covered, 50)
        self.assertEqual(100 - covered, 50)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 60},  # overlaps 2
            {"id": 4, "parent": 2, "start_ms": 15, "end_ms": 20},
        ]
        self.assertEqual(self_times(spans), {1: 50, 2: 25, 3: 30, 4: 5})

    def test_child_outside_its_parent_is_clipped(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0, "end_ms": 10},
                 {"id": 2, "parent": 1, "start_ms": 5, "end_ms": 50}]
        self.assertEqual(self_times(spans)[1], 5)


class OpenLoop(unittest.TestCase):
    def test_due_times_follow_the_schedule_not_the_system(self):
        self.assertEqual(gen.due_times_ms(4, 2.5), [0.0, 2500.0, 5000.0, 7500.0])

    def test_lateness_is_the_worst_slip_behind_schedule(self):
        sent = [{"due_ms": 0.0, "sent_ms": 0.4}, {"due_ms": 500.0, "sent_ms": 512.0},
                {"due_ms": 1000.0, "sent_ms": 1000.1}]
        self.assertAlmostEqual(lateness_ms(sent), 12.0)
        self.assertEqual(lateness_ms([{"due_ms": 5.0, "sent_ms": 5.0}]), 0.0)

    def test_stream_schedule_is_one_request_per_interval_within_the_run(self):
        rng = gen.np.random.default_rng(7)
        n = gen.timed_requests(20)
        reqs = gen.requests(rng, gen.STREAM_WARMUP + n)
        warm, timed = gen.stream_messages(rng, reqs, 20)
        self.assertEqual([m["req"] for m in warm], [f"r{i}" for i in range(9)])
        self.assertEqual([m["due_ms"] for m in warm], [0.0] * 3 + [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
        real = [m for m in timed if m["req"]]
        self.assertEqual(n, 12)  # two whole blocks, due at 0, 1.5, ..., 16.5 s
        self.assertEqual([m["due_ms"] for m in real], [1500.0 * i for i in range(n)])
        self.assertEqual([m["req"] for m in real], [f"r{i}" for i in range(9, 9 + n)])
        for bad in (m for m in timed if not m["req"]):
            self.assertIn(bad["due_ms"], {m["due_ms"] for m in real})


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            sa = gen.generate("jobs_stream", 11, 5, a)
            sb = gen.generate("jobs_stream", 11, 5, b)
            for k in ("requests", "messages", "warm_messages"):
                self.assertEqual(sa[k], sb[k])
            for t in ("customer", "orders", "events"):
                with open(f"{a}/data/{t}.parquet", "rb") as fa, open(f"{b}/data/{t}.parquet", "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())

    def test_request_shapes(self):
        reqs = gen.requests(gen.np.random.default_rng(3), 60)
        self.assertEqual([r["type"] for r in reqs[:3]], list(gen.WARMUP_TYPES))
        for r in reqs:
            keys = r["symbols"] if r["type"] == "index" else [tuple(a) for a in r["assets"]]
            self.assertTrue(1 <= len(keys) <= gen.MAX_ASSETS)
            self.assertEqual(len(set(keys)), len(keys))

    def test_each_kind_covers_every_size_band_once_per_group(self):
        reqs = gen.requests(gen.np.random.default_rng(5), gen.WARMUP_REQUESTS + 96)
        edges = [gen.size(b / gen.SIZE_BANDS) for b in range(gen.SIZE_BANDS + 1)]
        for i in range(gen.WARMUP_REQUESTS, len(reqs), 6):
            self.assertEqual(sorted(r["type"] for r in reqs[i:i + 6]), sorted(gen.TYPE_BLOCK))
        for kind in gen.TOPICS:
            sizes = [len(r.get("assets", r.get("symbols")))
                     for r in reqs[gen.WARMUP_REQUESTS:] if r["type"] == kind]
            self.assertEqual(len(sizes) % gen.SIZE_BANDS, 0)
            for g in range(0, len(sizes), gen.SIZE_BANDS):
                for band, n in enumerate(sorted(sizes[g:g + gen.SIZE_BANDS])):
                    self.assertTrue(edges[band] <= n <= edges[band + 1], (kind, band, n))


class JobContracts(unittest.TestCase):
    def test_java_string_hash(self):
        self.assertEqual(checks.java_hash(""), 0)
        self.assertEqual(checks.java_hash("a"), 97)
        self.assertEqual(checks.java_hash("hello"), 99162322)
        self.assertEqual(checks.java_hash("polygenelubricants"), -2147483648)

    def test_months_span_whole_months(self):
        self.assertEqual(checks.months("1999-11-15", "2000-02-01"),
                         ["1999-11-01", "1999-12-01", "2000-01-01", "2000-02-01"])


if __name__ == "__main__":
    unittest.main()
