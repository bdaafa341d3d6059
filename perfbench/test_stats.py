"""Tests of the benchmark's own rules.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import check
import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.95), 95)
        self.assertEqual(stats.percentile(xs, 0.99), 99)
        self.assertEqual(stats.percentile([3.0], 0.99), 3.0)

    def test_ten_samples_beyond(self):
        # p95 needs 200 samples, p99 1000, p90 100
        self.assertEqual(stats.beyond(200, 0.95), 10)
        self.assertEqual(stats.beyond(199, 0.95), 9)
        self.assertEqual(stats.beyond(1000, 0.99), 10)
        self.assertEqual(stats.beyond(999, 0.99), 9)
        self.assertEqual(stats.beyond(100, 0.90), 10)
        self.assertEqual(stats.beyond(99, 0.90), 9)

    def test_tail_level(self):
        self.assertEqual(stats.tail_level(1000, 0.99), 0.99)
        self.assertEqual(stats.tail_level(200, 0.95), 0.95)
        q = stats.tail_level(40, 0.95)
        self.assertEqual(stats.beyond(40, q), 10)
        self.assertEqual(stats.tail_level(12, 0.9), 0.5)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class SustainableRule(unittest.TestCase):
    def rung(self, rate, lat, grows=False, failed=0):
        return {"rate": rate, "latencies": lat, "grows": grows, "failed": failed}

    def test_highest_passing_rung(self):
        rungs = [self.rung(2, [0.1] * 20), self.rung(4, [0.2] * 20),
                 self.rung(8, [0.3] * 20, grows=True)]
        self.assertEqual(stats.sustainable(rungs, 10.0, 0.95)["rate"], 4)

    def test_latency_limit(self):
        rungs = [self.rung(2, [0.1] * 20), self.rung(4, [0.2] * 18 + [11.0] * 2)]
        self.assertEqual(stats.sustainable(rungs, 10.0, 0.95)["rate"], 2)
        self.assertEqual(stats.sustainable(rungs, 10.0, 0.5)["rate"], 4)

    def test_failures_miss_the_limit(self):
        rungs = [self.rung(2, [0.1] * 20), self.rung(4, [0.1] * 20, failed=1)]
        self.assertEqual(stats.sustainable(rungs, 10.0, 0.95)["rate"], 2)
        self.assertIsNone(stats.sustainable([self.rung(2, [], failed=3)], 10.0, 0.95))

    def test_backlog_growth(self):
        steady = [(t / 10, 3 + (t % 2)) for t in range(100)]
        self.assertFalse(stats.grows(steady, 0.0, 10.0, rate=10))
        # 5 per second more than served: half the offered rate
        growing = [(t / 10, 5 * t / 10) for t in range(100)]
        self.assertTrue(stats.grows(growing, 0.0, 10.0, rate=10))
        # only the second half counts
        late_drain = [(t / 10, 5 * t / 10 if t < 50 else 25) for t in range(100)]
        self.assertFalse(stats.grows(late_drain, 0.0, 10.0, rate=10))

    def test_capacity(self):
        self.assertAlmostEqual(stats.capacity([(0.0, 1.0), (1.0, 2.0), (2.0, 4.0)]), 0.75)
        self.assertEqual(stats.capacity([]), 0.0)


class SelfTimeAndOverhead(unittest.TestCase):
    def test_union(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3)], 1.5, 2.5), 1)
        self.assertEqual(stats.union_length([], 0, 1), 0)

    def test_self_times(self):
        spans = [
            {"op": "r1", "layer": "request", "start": 0.0, "end": 10.0},
            {"op": "r1", "layer": "serve.queue", "start": 0.0, "end": 1.0},
            {"op": "r1", "layer": "queries.build", "start": 1.0, "end": 2.0},
            {"op": "r1", "layer": "catalyst.analysis", "start": 2.0, "end": 3.0},
            {"op": "r1", "layer": "exec.job", "start": 4.0, "end": 9.0},
            {"op": "r1", "layer": "exec.stage", "start": 4.5, "end": 6.0},
            {"op": "r1", "layer": "exec.stage", "start": 5.0, "end": 8.0},
            {"op": "r2", "layer": "request", "start": 0.0, "end": 1.0},
        ]
        st = stats.self_times(spans)
        # r1: 10 - (1 + 1 + 1 + 5) = 2; r2: no children, 1
        self.assertAlmostEqual(st["root"], 3.0)
        self.assertAlmostEqual(st["exec.job"], 5.0 - 3.5)
        self.assertAlmostEqual(st["exec.stage"], 1.5 + 3.0)
        self.assertAlmostEqual(st["serve.queue"], 1.0)
        # self times of all layers add up to the roots' durations plus any
        # overlap between sibling stages (here 1 s)
        self.assertAlmostEqual(sum(st.values()), 11.0 + 1.0)

    def test_overhead(self):
        self.assertEqual(stats.overhead(1.2, 1.0)[0], 1.2 - 1.0)
        self.assertAlmostEqual(stats.overhead(1.2, 1.0)[1], 0.2)
        self.assertEqual(stats.overhead(1.0, 0.0), (1.0, 0.0))


class MetricNames(unittest.TestCase):
    def test_format(self):
        for ok in ["setup_s", "latency_s.p50", "exec.tasks_per_stage", "self_s.exec.job"]:
            self.assertTrue(stats.check_name(ok), ok)
        for bad in ["", "_x", "a b", "x" * 65, "rate/s"]:
            self.assertFalse(stats.check_name(bad), bad)
        for ok in ["s", "ms", "1/s", "count", "MB", "%"]:
            self.assertTrue(stats.check_unit(ok), ok)
        self.assertFalse(stats.check_unit("seconds per op!"))

    def test_benchmark_json(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(stats.check_name(m["name"]), m["name"])
            self.assertTrue(stats.check_unit(m["unit"]), m["unit"])
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class AisReportRates(unittest.TestCase):
    def test_itu_intervals(self):
        got = gen.report_interval([0.0, 1.0, 13.9, 14.0, 22.9, 23.0, 30.0])
        self.assertEqual(got.tolist(), [180.0, 10.0, 10.0, 6.0, 6.0, 2.0, 2.0])

    def test_fleet_rate(self):
        # 1-25 kn uniform: 13/24 of the moving vessels at 10 s, 9/24 at 6 s,
        # 2/24 at 2 s; the rest moored at 180 s
        moving = 13 / 24 / 10 + 9 / 24 / 6 + 2 / 24 / 2
        want = 50000 * (gen.MOVING_SHARE * moving + (1 - gen.MOVING_SHARE) / 180)
        self.assertAlmostEqual(gen.fleet_rate(50000), want)
        self.assertAlmostEqual(gen.fleet_rate(50000), 4861.111, places=3)


class VesselFold(unittest.TestCase):
    def test_latest_report_and_ttl(self):
        truth = [(1, 100, -41.0, 174.0), (1, 200, -41.5, 174.5), (1, 150, -41.2, 174.2),
                 (2, 100, -40.0, 170.0)]
        # TTL 1000 s; watermark at 1150 s expires vessel 2 (last 100 s) only
        exp = check.expected_vessels(truth, 1000, 1_150_000)
        self.assertEqual(exp, {1: (200, -41.5, 174.5)})
        state = {1: (200_000_000, -41.5, 174.5)}
        self.assertEqual(check.vessel_mismatches(exp, state), 0)
        self.assertEqual(check.vessel_mismatches(exp, {1: (200_000_000, -41.5, 174.6)}), 1)
        self.assertEqual(check.vessel_mismatches(exp, {**state, 2: (100_000_000, 0, 0)}), 1)


if __name__ == "__main__":
    unittest.main()
