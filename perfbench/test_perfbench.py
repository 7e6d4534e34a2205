"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import diff
import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.99), 99)
        self.assertEqual(stats.percentile([7.0], 0.99), 7.0)

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(1000, 0.99), 10)
        self.assertEqual(stats.beyond(999, 0.99), 9)
        self.assertEqual(stats.min_samples(0.99), 1000)
        self.assertEqual(stats.min_samples(0.95), 200)
        self.assertEqual(stats.min_samples(0.9), 100)
        for q in (0.5, 0.9, 0.95, 0.99):
            n = stats.min_samples(q)
            self.assertGreaterEqual(stats.beyond(n, q), 10)
            self.assertLess(stats.beyond(n - 1, q), 10)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class OpenLoop(unittest.TestCase):
    def test_lateness_is_timed_from_due(self):
        self.assertAlmostEqual(stats.lateness_ms(due_s=10.0, start_s=10.25), 250.0)

    def test_latency_charges_a_stall_to_queued_requests(self):
        # due at 10.0 but a stall kept the sender busy until 10.3: the POST
        # took 5 ms once sent, yet its latency counts from the slot
        due, start, end = 10.0, 10.3, 10.305
        self.assertAlmostEqual(stats.latency_ms(due, end), 305.0)
        self.assertGreater(stats.latency_ms(due, end), (end - start) * 1000)

    def test_schedule_is_fixed_and_staggered(self):
        import loadgen
        slots = loadgen.schedule(hosts=10, seconds=10, period=5.0, seed=3)
        self.assertEqual(slots, loadgen.schedule(hosts=10, seconds=10, period=5.0, seed=3))
        self.assertEqual(len(slots), 20)
        firsts = sorted(off for off, _, k in slots if k == 0)
        self.assertTrue(all(0 <= f < 5.0 for f in firsts))
        self.assertGreater(firsts[-1] - firsts[0], 3.0)
        at = {(h, k): off for off, h, k in slots}
        for (h, k), off in at.items():
            if k:
                self.assertAlmostEqual(off - at[(h, k - 1)], 5.0)


class Freshness(unittest.TestCase):
    B = 1_800_000_000_000  # a minute boundary, in ms

    def env(self, host, t_ms, rows=58):
        return {"host": host, "t_us": int(t_ms * 1000), "metrics": rows}

    def test_cumulative_counts_match_each_envelope(self):
        envs = [self.env("a", self.B + 1000), self.env("a", self.B + 6000)]
        trans = [("a", self.B, 58, self.B + 3000.0), ("a", self.B, 116, self.B + 9000.0)]
        self.assertEqual(stats.freshness(envs, trans), [2.0, 3.0])

    def test_one_poll_can_reveal_several_envelopes(self):
        envs = [self.env("a", self.B + 1000), self.env("a", self.B + 6000)]
        trans = [("a", self.B, 116, self.B + 8000.0)]
        self.assertEqual(stats.freshness(envs, trans), [7.0, 2.0])

    def test_hosts_and_buckets_are_separate(self):
        envs = [self.env("a", self.B + 59_000), self.env("a", self.B + 64_000),
                self.env("b", self.B + 1000)]
        trans = [("a", self.B, 58, self.B + 61_000.0),
                 ("a", self.B + 60_000, 58, self.B + 66_000.0),
                 ("b", self.B, 58, self.B + 2000.0)]
        self.assertEqual(stats.freshness(envs, trans), [2.0, 2.0, 1.0])

    def test_never_counted_is_none(self):
        envs = [self.env("a", self.B + 1000), self.env("a", self.B + 6000)]
        trans = [("a", self.B, 58, self.B + 3000.0), ("a", self.B, 100, self.B + 9000.0)]
        self.assertEqual(stats.freshness(envs, trans), [2.0, None])

    def test_input_order_is_kept(self):
        envs = [self.env("a", self.B + 6000), self.env("a", self.B + 1000)]
        trans = [("a", self.B, 58, self.B + 3000.0), ("a", self.B, 116, self.B + 9000.0)]
        self.assertEqual(stats.freshness(envs, trans), [3.0, 2.0])


class Verdicts(unittest.TestCase):
    base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_unchanged_inside_the_bound(self):
        self.assertEqual(stats.verdict(self.base, [x * 1.05 for x in self.base], 0.1),
                         "unchanged")

    def test_worse_and_better_for_lower_is_better(self):
        self.assertEqual(stats.verdict(self.base, [x * 1.3 for x in self.base], 0.1), "worse")
        self.assertEqual(stats.verdict(self.base, [x * 0.7 for x in self.base], 0.1), "better")

    def test_direction_flips_for_higher_is_better(self):
        self.assertEqual(stats.verdict(self.base, [x * 1.3 for x in self.base], 0.1, "higher"),
                         "better")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [50, 150, 60, 140, 100, 70, 130, 100, 80, 120]
        self.assertEqual(stats.verdict(self.base, noisy, 0.1), "unresolved")
        self.assertEqual(stats.verdict(noisy, [x * 2 for x in self.base], 0.1), "unresolved")

    def test_diff_report_names_layer_movers(self):
        def rec(trace, e2e, layer):
            return {"workload": "w", "trace": trace, "end_to_end": {"op_p50_ms": e2e},
                    "per_layer": {"query.jobs": layer, "query.tasks": 4.0, "idle": 0.0}}
        before = {"w": [rec(0, v, 5.0) for v in self.base] + [rec(1, 100, 5.0)]}
        after = {"w": [rec(0, v * 1.5, 9.0) for v in self.base] + [rec(1, 150, 9.0)]}
        spec = {"end_to_end": [{"name": "op_p50_ms", "unit": "ms", "better": "lower",
                                "bound": 0.1}]}
        lines = list(diff.compare(before, after, spec))
        self.assertTrue(lines[1].rstrip().endswith("worse"), lines)
        self.assertIn("query.jobs", lines[2])
        self.assertFalse(any("idle" in x or "query.tasks" in x for x in lines))


class QueryOutcome(unittest.TestCase):
    def ex(self, q, error=None):
        return {"query": q, "error": error, "buildMs": 1.0, "planMs": 1.0, "execMs": 8.0}

    def test_clean_run_is_correct(self):
        execs = [self.ex("a"), self.ex("b"), self.ex("a"), self.ex("b")]
        self.assertEqual(run.query_outcome(execs, ["a", "b"], {}), (True, 6, 0))

    def test_a_measured_execution_that_throws_fails_the_run(self):
        execs = [self.ex("a"), self.ex("b"), self.ex("a"), self.ex("b", "boom")]
        self.assertEqual(run.query_outcome(execs, ["a", "b"], {}), (False, 6, 1))

    def test_a_failed_check_fails_the_run(self):
        execs = [self.ex("a"), self.ex("b")]
        self.assertEqual(run.query_outcome(execs, ["a", "b"], {"b": "rows differ"}),
                         (False, 4, 1))

    def test_latency_is_each_query_median(self):
        execs = [self.ex("a"), dict(self.ex("a"), execMs=98.0), self.ex("a")]
        self.assertEqual(run.per_query(execs), {"a": 10.0})


class Spec(unittest.TestCase):
    def test_benchmark_json_lists_what_run_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
