"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import report


class PercentileRule(unittest.TestCase):
    def test_median_matches_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0]
        self.assertEqual(report.median(xs), statistics.median(xs))

    def test_nearest_rank(self):
        xs = list(range(1, 201))  # 1..200
        self.assertEqual(report.percentile(xs, 90), 180)
        self.assertEqual(report.percentile(xs, 50), 100)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(report.percentile(list(range(100)), 90), 89)
        with self.assertRaises(ValueError):
            report.percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            report.percentile([1.0] * 12, 90)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            report.percentile([], 50)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end,
            "attrs": {}, "counters": {}}


class SelfTime(unittest.TestCase):
    def test_leaf_self_is_its_length(self):
        self.assertEqual(report.self_times([span(0, -1, 0, 10)]), {0: 10})

    def test_nested_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30),
                 span(3, 0, 50, 60)]
        self.assertEqual(report.self_times(spans), {0: 60, 1: 20, 2: 10, 3: 10})

    def test_overlapping_children_charged_once(self):
        # two children overlap on [20, 30): the parent loses [10, 40) only
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 40)]
        self.assertEqual(report.self_times(spans)[0], 70)

    def test_child_sticking_out_is_clipped(self):
        spans = [span(0, -1, 0, 50), span(1, 0, 40, 80)]
        self.assertEqual(report.self_times(spans)[0], 40)

    def test_union_length(self):
        self.assertEqual(report.union_length([(0, 5), (3, 8), (10, 12), (11, 11)]), 10)
        self.assertEqual(report.union_length([]), 0)


class BusyFraction(unittest.TestCase):
    def test_full_and_half_busy(self):
        tasks = [(0, 100, 100), (0, 100, 100)]
        self.assertAlmostEqual(report.busy_fraction(tasks, (0, 100), 2), 1.0)
        self.assertAlmostEqual(report.busy_fraction(tasks, (0, 100), 4), 0.5)

    def test_straddling_task_prorated(self):
        # a 100 ms task with 80 ms of run time, half inside the window
        self.assertAlmostEqual(report.busy_fraction([(50, 150, 80)], (0, 100), 1), 0.4)

    def test_task_outside_window_ignored(self):
        self.assertEqual(report.busy_fraction([(200, 300, 100)], (0, 100), 1), 0.0)

    def test_idle_time(self):
        tasks = [(10, 30, 20), (20, 40, 20), (60, 70, 10)]
        self.assertEqual(report.idle_time(tasks, (0, 100)), 100 - 30 - 10)


class WarmSamples(unittest.TestCase):
    def test_query_sweeps_after_the_warmup_count_whole(self):
        walls = [20.0, 9.0, 6.0, 4.0, 5.0, 3.0]  # cold, then five warm sweeps
        raw = {"workload": "queries_sf", "iterations": [
            {"kind": "cold" if i == 0 else "warm", "traced": i == 4, "ok": True,
             "wall_s": w, "cpu_s": 2 * w} for i, w in enumerate(walls)],
            "samples": [{"sweep": i, "kind": "cold" if i == 0 else "warm", "traced": i == 4,
                         "ok": True, "wall_s": w / 2} for i, w in enumerate(walls)
                        for _ in range(2)]}
        self.assertEqual(report.WARMUP_SWEEPS, 2)
        self.assertEqual(report.warm_samples(raw), [4.0, 3.0])
        self.assertEqual(report.warm_samples(raw, "cpu_s"), [8.0, 6.0])
        self.assertEqual(report.query_samples(raw), [2.0, 2.0, 1.5, 1.5])
        setup = [{"generate_s": 0.1, "write_s": 0.2, "cpu_s": c} for c in (0.5, 0.3, 0.4)]
        raw = dict(raw, setup=setup, reference_cpu_s=[
            2 * report.REFERENCE_CPU_S * x for x in (1.2, 1.0, 0.9, 1.0)])
        self.assertEqual(report.end_to_end_unscaled(raw),
                         {"setup_s": 0.4, "cold_cpu_s": 40.0, "warm_cpu_s": 7.0})
        # the reference work took twice its nominal CPU time: the host ran
        # at half speed, and the figures are halved
        self.assertEqual(report.end_to_end(raw),
                         {"setup_s": 0.2, "cold_cpu_s": 20.0, "warm_cpu_s": 3.5})

    def test_every_warm_suite_run_counts(self):
        raw = {"workload": "suite_stored", "iterations": [
            {"kind": "cold", "traced": False, "ok": True, "wall_s": 30.0},
            {"kind": "warm", "traced": False, "ok": True, "wall_s": 14.0},
            {"kind": "warm", "traced": False, "ok": False, "wall_s": 2.0}]}
        self.assertEqual(report.warm_samples(raw), [14.0])


class Slope(unittest.TestCase):
    def test_jobs_per_commit(self):
        self.assertAlmostEqual(report.slope([0, 1, 2, 3], [184, 186, 188, 190]), 2.0)
        self.assertEqual(report.slope([0], [5]), 0.0)


if __name__ == "__main__":
    unittest.main()
