"""Tests of the benchmark's own rules: python3 perfbench/test_perfbench.py"""
import collections
import filecmp
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import inputs  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        for n, reported in ((100, True), (99, True), (90, False), (5, False)):
            value, count, beyond = metrics.tail(list(range(n)), 90)
            self.assertEqual(count, n)
            self.assertEqual(beyond >= 10, reported, n)
            self.assertEqual(value is not None, reported, n)
        value, count, beyond = metrics.tail(list(range(101)), 90)
        self.assertEqual((value, count, beyond), (90, 101, 10))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([7], 90), 7)


class Intervals(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
                "name": f"s{i}", "op": 0}

    def test_self_time_subtracts_union_of_overlapping_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 1, 30, 70), self.span(4, 3, 40, 45),
                 self.span(5, 1, 90, 120)]
        st = metrics.self_times(spans)
        # children cover [10, 70] and [90, 100] of the parent
        self.assertEqual(st[1], 100 - 60 - 10)
        self.assertEqual(st[3], 40 - 5)
        self.assertEqual(st[2], 40)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        trace = {"jobs": [
            {"start_ms": 0, "end_ms": 10, "stage_ids": []},
            {"start_ms": 5, "end_ms": 20, "stage_ids": []},   # overlaps
            {"start_ms": 30, "end_ms": 40, "stage_ids": []},
            {"start_ms": 45, "end_ms": 60, "stage_ids": []},  # ends after op
            {"start_ms": 70, "end_ms": 80, "stage_ids": []}],  # another op
            "stages": [], "queries": [], "blocks": []}
        layers = metrics.op_layers(trace, 0, 50, cores=4)
        self.assertEqual(layers["sched.jobs"], 4)
        self.assertAlmostEqual(layers["sched.job_busy_s"], 0.035)
        self.assertAlmostEqual(layers["sched.driver_gap_s"], 0.015)


class HeapPeak(unittest.TestCase):
    def test_highest_gc_inside_the_windows(self):
        gcs = [[5, 900], [12, 300], [18, 350], [25, 800], [31, 400]]
        self.assertEqual(metrics.heap_peak(gcs, [(10, 20), (30, 40)]), (400, 3))

    def test_without_gc_inside_the_last_earlier_one_holds(self):
        gcs = [[5, 900], [12, 300], [50, 800]]
        self.assertEqual(metrics.heap_peak(gcs, [(20, 30)]), (300, 0))


class Lags(unittest.TestCase):
    def test_first_check_counting_a_record(self):
        feed = [[100, 100, 0, 2], [110, 111, 2, 2]]
        checks = [[90, 0], [150, 3], [200, 4]]
        self.assertEqual(metrics.liveness_lags(feed, checks), [50, 50, 40, 90])

    def test_recompute_of_a_concurrently_read_rdd(self):
        rdd = lambda i, parents, persisted=False: {  # noqa: E731
            "id": i, "parents": parents, "persisted": persisted}
        first = {"id": 1, "submitted_ms": 0, "completed_ms": 50, "tasks": 4,
                 "rdds": [rdd(1, []), rdd(2, [1], True)]}
        racing = dict(first, id=2, submitted_ms=10, tasks=3,
                      rdds=[rdd(1, []), rdd(2, [1], True), rdd(3, [2])])
        cached = dict(racing, id=3, submitted_ms=60)
        self.assertEqual(metrics.recomputed_tasks([first, racing]), 3)
        self.assertEqual(metrics.recomputed_tasks([first, cached]), 0)


class Inputs(unittest.TestCase):
    def test_relabel_is_a_bijection_keeping_the_texts(self):
        n = 600
        base = inputs.base_corpus(n)
        for seed in (1, 2):
            ids = inputs.relabel(n, seed)
            self.assertEqual(sorted(ids), list(range(n)))
            rows = inputs.seeded_rows(n, seed)
            self.assertEqual(sorted(r[0] for r in rows), list(range(n)))
            self.assertEqual(collections.Counter(r[1:] for r in rows),
                             collections.Counter(r[1:] for r in base))
        self.assertNotEqual(inputs.relabel(n, 1), inputs.relabel(n, 2))
        dups = sum(1 for r in base if r[1].endswith(" dup"))
        self.assertTrue(0.02 * n < dups < 0.08 * n)

    def test_same_seed_gives_byte_identical_inputs(self):
        (HERE.parent / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=HERE.parent / ".bench_build") as d:
            a = inputs.write_documents(f"{d}/a", 300, 7)
            b = inputs.write_documents(f"{d}/b", 300, 7)
            c = inputs.write_documents(f"{d}/c", 300, 8)
            self.assertTrue(filecmp.cmp(a, b, shallow=False))
            self.assertFalse(filecmp.cmp(a, c, shallow=False))


if __name__ == "__main__":
    unittest.main()
