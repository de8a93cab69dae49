"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertTrue(stats.supported(100, 90))
        self.assertFalse(stats.supported(99, 90))
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(1000), 99)
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertIsNone(stats.highest_supported(19))

    def test_median_and_spread(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class LagTest(unittest.TestCase):
    INTERVAL_MS, ADVANCE_S = 1000, 3600.0

    def triggers(self, starts_ms, run_ms=300):
        # Trigger k serves slices up to 10(k+1); slice i has event time i*360 s,
        # so every trigger carries exactly one interval of event time.
        return [{"start_us": s * 1000, "end_offset": 10 * (k + 1),
                 "sink_end_us": (s + run_ms) * 1000} for k, s in enumerate(starts_ms)]

    def ts(self, i):
        return i * 360 * 1_000_000

    def test_on_schedule_lag_is_processing_time(self):
        # Trigger 0 starts off-grid (cursor build), the rest on the grid.
        trig = self.triggers([500, 2000, 3000, 4000])
        lags = stats.trigger_lags(trig, self.ts, self.INTERVAL_MS, self.ADVANCE_S)
        self.assertEqual(len(lags), 3)
        for lag, late in lags:
            # The newest event of a window is one slice (360 s of event time,
            # 100 ms of wall time) before the window's end.
            self.assertAlmostEqual(late, 100.0)
            self.assertAlmostEqual(lag, 400.0)

    def test_clock_starts_at_first_on_grid_trigger(self):
        # Trigger 1 starts late (trigger 0 overran); trigger 2 is on its slot.
        trig = self.triggers([500, 1700, 3000, 4000])
        lags = stats.trigger_lags(trig, self.ts, self.INTERVAL_MS, self.ADVANCE_S)
        self.assertEqual(len(lags), 2)
        self.assertAlmostEqual(lags[0][1], 100.0)

    def test_late_trigger_adds_wait(self):
        trig = self.triggers([500, 2000, 3000, 4250])
        lag, late = stats.trigger_lags(trig, self.ts, self.INTERVAL_MS, self.ADVANCE_S)[-1]
        self.assertAlmostEqual(late, 350.0)
        self.assertAlmostEqual(lag, 650.0)

    def test_only_triggers_from_the_timed_phase(self):
        trig = self.triggers([500, 2000, 3000, 4000, 5000])
        lags = stats.trigger_lags(trig, self.ts, self.INTERVAL_MS, self.ADVANCE_S,
                                  from_us=3_500_000)
        self.assertEqual(len(lags), 2)
        self.assertAlmostEqual(lags[0][0], 400.0)

    def test_over_capacity_clock_starts_at_first_timed_slot(self):
        # Every trigger overruns its 1 s slot by 200 ms, so none is on the
        # grid; the lag grows by the overrun per trigger.
        trig = self.triggers([500, 1700, 2900, 4100], run_ms=1200)
        lags = stats.trigger_lags(trig, self.ts, self.INTERVAL_MS, self.ADVANCE_S)
        self.assertEqual(len(lags), 3)
        self.assertAlmostEqual(lags[1][0] - lags[0][0], 200.0)
        self.assertAlmostEqual(lags[2][1] - lags[1][1], 200.0)

    def test_due_time_mapping(self):
        self.assertEqual(stats.due_us(3600e6, 0, 0, 1000, 3600.0), 1e6)
        self.assertEqual(stats.trigger_lags(self.triggers([0]), self.ts, 1000, 3600.0), [])


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "ops.a", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "exec.x", "start_ms": 10, "end_ms": 50},
            {"id": 3, "parent": 1, "name": "exec.x", "start_ms": 40, "end_ms": 60},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["ops.a"], 50.0)
        self.assertAlmostEqual(st["exec.x"], 60.0)


class GeneratorTest(unittest.TestCase):
    def test_requests_deterministic_per_seed(self):
        a = gen.dashboard_requests(gen.rng_for(7, 3), 200)
        b = gen.dashboard_requests(gen.rng_for(7, 3), 200)
        c = gen.dashboard_requests(gen.rng_for(8, 3), 200)
        self.assertEqual(a, b)
        self.assertNotEqual([r["spec"] for r in a], [r["spec"] for r in c])

    def test_zipf_skew_and_mix(self):
        ranks = gen.zipf_ranks(gen.rng_for(1, 1), 20000, 48)
        counts = [int((ranks == r).sum()) for r in range(48)]
        self.assertEqual(max(counts), counts[0])
        self.assertGreater(counts[0], 5 * counts[47])
        kinds = [r["kind"] for r in gen.dashboard_requests(gen.rng_for(1, 3), 400)]
        self.assertEqual(kinds.count("bundle"), 200)
        self.assertEqual(kinds.count("geo"), 100)

    def test_spec_json_is_engine_wire_form(self):
        spec = json.loads(gen.spec_json({"acctbal": [1.0, 2.0], "segments": ["BUILDING"],
                                         "start": "2024-01-02", "end": "2024-01-05"}))
        f = spec["subjectSelection"]["attrFilters"]
        self.assertEqual(f[0]["jsonClass"], "CohortFilter$NumericRange")
        self.assertEqual(spec["controlSelection"], {"jsonClass": "AllUsers$"})

    def test_inputs_identical_for_same_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("stream_replay", 3, f"{d}/a")
            gen.generate("stream_replay", 3, f"{d}/b")
            for f in ("replay.parquet", "warm.parquet"):
                with open(f"{d}/a/data/{f}", "rb") as x, open(f"{d}/b/data/{f}", "rb") as y:
                    self.assertEqual(x.read(), y.read())


class CanonicalTest(unittest.TestCase):
    def test_order_free(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
        self.assertEqual(checks.canonical(a), checks.canonical(b))
        self.assertIsNone(checks.frames_equal(a, b))

    def test_nan_is_null_and_values_matter(self):
        self.assertEqual(checks.canonical(pd.DataFrame({"x": [math.nan]})),
                         checks.canonical(pd.DataFrame({"x": [None]}, dtype="float64")))
        self.assertNotEqual(checks.canonical(pd.DataFrame({"x": [1.0, 2.0]})),
                            checks.canonical(pd.DataFrame({"x": [1.0, 3.0]})))

    def test_frames_equal_tolerates_summation_order_only(self):
        a = pd.DataFrame({"k": ["x"], "avg": [320.43625], "n": [48]})
        self.assertIsNone(checks.frames_equal(a, a.assign(avg=[320.43625 * (1 + 1e-12)])))
        self.assertIsNotNone(checks.frames_equal(a, a.assign(avg=[320.4362])))
        self.assertIsNotNone(checks.frames_equal(a, a.assign(n=[47])))


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_report(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], report.PER_LAYER)
        for w in b["workloads"]:
            self.assertIn(w["name"], report.REPORTS)


if __name__ == "__main__":
    unittest.main()
