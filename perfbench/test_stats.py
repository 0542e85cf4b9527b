"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from run import gmean_of_medians  # noqa: E402


def job(jid, start, end, desc=None, stages=(), tags=()):
    return {"id": jid, "start_ms": start, "end_ms": end, "description": desc,
            "stage_ids": list(stages), "tags": list(tags)}


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(stats.union_length([(0, 10), (20, 25)]), 15)

    def test_concurrent_pool_jobs_count_once(self):
        # four class fits of one softprob round, overlapped by the pool:
        # their sum is 160 ms, the wall they cover only 70
        pool = [(100, 140), (105, 150), (110, 160), (120, 150)]
        self.assertEqual(stats.union_length(pool), 60)
        self.assertEqual(stats.union_length(pool + [(160, 170)]), 70)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 100), (10, 20), (100, 110)]), 110)

    def test_clipping_to_a_window(self):
        self.assertEqual(stats.union_length([(0, 50), (40, 80)], lo=10, hi=60), 50)
        self.assertEqual(stats.union_length([(0, 5)], lo=10, hi=60), 0)

    def test_driver_gap_is_wall_minus_union_not_sum(self):
        wall = (0, 100)
        jobs = [(10, 60), (20, 70), (80, 90)]  # sum 110 > wall
        busy = stats.union_length(jobs, *wall)
        self.assertEqual(busy, 70)
        self.assertEqual(wall[1] - wall[0] - busy, 30)


class PhaseTest(unittest.TestCase):
    def test_phase_of_descriptions(self):
        self.assertEqual(stats.phase_of("boost: input count"), ("input count", None))
        self.assertEqual(stats.phase_of("boost: r3 grow"), ("grow", 3))
        self.assertEqual(stats.phase_of("boost: r12 margin-update"), ("margin-update", 12))
        self.assertEqual(stats.phase_of("boost: r2 class-3 grow"), ("class-grow", 2))
        self.assertEqual(stats.phase_of(None), ("other", None))
        self.assertEqual(stats.phase_of("q01"), ("other", None))

    def test_walls_run_to_the_next_phase_and_the_fit_end(self):
        jobs = [
            job(1, 0, 10, "boost: input count"),
            job(2, 15, 30, "boost: propose-edges"),
            job(3, 32, 40, "boost: propose-edges"),
            job(4, 50, 60, "boost: r1 grow"),
            job(5, 70, 80, "boost: r1 loss"),
        ]
        segs = stats.split_phases(jobs, end_ms=95)
        self.assertEqual([(s["kind"], s["round"]) for s in segs],
                         [("input count", None), ("propose-edges", None),
                          ("grow", 1), ("loss", 1)])
        self.assertEqual([s["wall_ms"] for s in segs], [15, 35, 20, 25])
        self.assertEqual([s["jobs_ms"] for s in segs], [10, 23, 10, 10])
        self.assertEqual([s["driver_ms"] for s in segs], [5, 12, 10, 15])
        # the walls tile the fit from its first job to its return
        self.assertEqual(sum(s["wall_ms"] for s in segs), 95)

    def test_interleaved_class_fits_form_one_segment_per_round(self):
        jobs = [
            job(1, 0, 20, "boost: r1 class-0 grow"),
            job(2, 1, 25, "boost: r1 class-1 grow"),
            job(3, 22, 30, "boost: r1 class-0 grow"),
            job(4, 31, 35, None),  # the round's margin update, unlabelled
            job(5, 40, 60, "boost: r2 class-1 grow"),
            job(6, 41, 50, "boost: r2 class-0 grow"),
        ]
        segs = stats.split_phases(jobs, end_ms=70)
        self.assertEqual([(s["kind"], s["round"]) for s in segs],
                         [("class-grow", 1), ("other", None), ("class-grow", 2)])
        self.assertEqual([s["wall_ms"] for s in segs], [31, 9, 30])
        self.assertEqual([s["jobs_ms"] for s in segs], [30, 4, 20])
        self.assertEqual(segs[0]["job_ids"], [1, 2, 3])

    def test_same_kind_in_another_round_starts_a_new_segment(self):
        jobs = [job(1, 0, 5, "boost: r1 grow"), job(2, 6, 9, "boost: r2 grow")]
        self.assertEqual(len(stats.split_phases(jobs, end_ms=10)), 2)


class StageAttributionTest(unittest.TestCase):
    def test_stages_follow_stage_ids_not_recency(self):
        # two concurrent jobs: job 2 starts last, but stage 10 is job 1's
        jobs = [job(1, 0, 100, stages=[10, 11]), job(2, 5, 90, stages=[20])]
        stages = [{"id": 10, "attempt": 0, "submitted_ms": 50},
                  {"id": 20, "attempt": 0, "submitted_ms": 6},
                  {"id": 11, "attempt": 0, "submitted_ms": 60}]
        owner = stats.attribute_stages(jobs, stages)
        self.assertEqual(owner, {(10, 0): 1, (20, 0): 2, (11, 0): 1})

    def test_shared_stage_goes_to_the_job_running_when_submitted(self):
        jobs = [job(1, 0, 10, stages=[5]), job(2, 20, 40, stages=[5, 6])]
        stages = [{"id": 5, "attempt": 1, "submitted_ms": 25}]
        self.assertEqual(stats.attribute_stages(jobs, stages), {(5, 1): 2})

    def test_unlisted_stage_is_dropped(self):
        self.assertEqual(stats.attribute_stages(
            [job(1, 0, 10, stages=[1])], [{"id": 9, "attempt": 0, "submitted_ms": 1}]), {})


class PercentileTest(unittest.TestCase):
    def test_p90_from_one_hundred_samples(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 90)

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n in range(11, 100):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(n * p / 100.0), 10, n)
            if p < 99:
                self.assertLess(n - math.ceil(n * (p + 1) / 100.0), 10, n)
        self.assertEqual(stats.tail_percentile(27), 62)
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(0))

    def test_nearest_rank(self):
        xs = list(range(1, 28))
        self.assertEqual(stats.nearest_rank(xs, 62), 17)  # ten samples beyond
        self.assertEqual(stats.nearest_rank(xs, 50), 14)
        self.assertEqual(stats.nearest_rank([3.0], 90), 3.0)


class SummaryTest(unittest.TestCase):
    def test_gmean_weighs_every_operation_alike(self):
        self.assertAlmostEqual(gmean_of_medians({"a": [1.0, 1.0, 9.0], "b": [4.0]}), 2.0)
        slower = gmean_of_medians({"a": [1.0], "b": [4.0 * 1.21]})
        self.assertAlmostEqual(slower / 2.0, 1.1)

    def test_task_skew_is_run_time_weighted(self):
        stages = [{"task_run_ms": [10, 10, 40], "run_ms": 60},
                  {"task_run_ms": [5], "run_ms": 5},
                  {"task_run_ms": [20, 20], "run_ms": 40}]
        self.assertAlmostEqual(stats.task_skew(stages), (4.0 * 60 + 1.0 * 40) / 100)
        self.assertEqual(stats.task_skew([{"task_run_ms": [7], "run_ms": 7}]), 1.0)

    def test_parallel_efficiency_and_scan_split(self):
        s = {"tasks": 4, "run_ms": 800, "cpu_ns": 0, "gc_ms": 0, "result_bytes": 0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "task_run_ms": [200] * 4, "file_scan": True, "input_records": 100,
             "input_bytes": 2 * stats.MB}
        cached = dict(s, file_scan=False, input_records=999)
        self.assertAlmostEqual(stats.stage_totals([s], wall_ms=400, cores=4)["parallel_eff"], 0.5)
        scan = stats.scan_totals([s, cached])
        self.assertEqual((scan["scan_tasks"], scan["input_rows"], scan["input_mb"]), (4, 100, 2.0))


if __name__ == "__main__":
    unittest.main()
