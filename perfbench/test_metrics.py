"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def ex(query, pas, start, end, error=None, digest="d", jobs=(), batches=(),
       build_end=0, plan_end=None):
    """One raw execution record; build_end=None means it threw while building."""
    if build_end is not None:
        build_end = max(build_end, start)
        plan_end = build_end if plan_end is None else plan_end
    return {"query": query, "pass": pas, "start_ms": start,
            "build_end_ms": build_end, "plan_end_ms": plan_end, "end_ms": end,
            "error": error, "digest": None if error else digest, "rows": 1,
            "jobs": [list(j) for j in jobs], "batches": [list(b) for b in batches],
            "counters": {}, "plancache_builds": 0}


class PercentileTest(unittest.TestCase):
    def test_symmetric_samples_and_sample_count(self):
        xs = list(range(1, 41))  # 40 samples, median 20.5
        est, n, beyond = metrics.percentile(xs, 50)
        self.assertAlmostEqual(est, 20.5, places=6)
        self.assertEqual((n, beyond), (40, 20))

    def test_p75_lies_between_its_neighbouring_ranks(self):
        xs = [float(x) for x in range(40)]
        est, _, _ = metrics.percentile(xs, 75)
        self.assertTrue(29 < est < 30, est)

    def test_forty_samples_leave_ten_beyond_p75(self):
        for n in (40, 41, 57):
            _, count, beyond = metrics.percentile(list(range(n)), 75)
            self.assertEqual(count, n)
            self.assertGreaterEqual(beyond, 10)

    def test_one_sample_crossing_a_gap_moves_the_median_a_little(self):
        fast, slow = [100.0] * 20, [300.0] * 20
        lo = metrics.percentile(fast + slow + [100.0], 50)[0]
        hi = metrics.percentile(fast + slow + [300.0], 50)[0]
        self.assertLess(hi - lo, 0.25 * lo)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50),
                         metrics.percentile([1, 2, 3, 4, 5], 50))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_overlapping_spans_count_once(self):
        # jobs submitted from a thread pool overlap
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (12, 20)]), 20)

    def test_disjoint_and_nested(self):
        self.assertEqual(metrics.union_ms([(0, 2), (4, 6), (4.5, 5)]), 4)

    def test_unsorted_input(self):
        self.assertEqual(metrics.union_ms([(30, 40), (0, 10), (5, 12)]), 22)

    def test_clipping_to_the_query(self):
        self.assertEqual(metrics.union_ms([(-5, 5), (8, 20)], 0, 10), 7)

    def test_driver_gap_is_wall_minus_union(self):
        e = ex("q", 1, 0, 100, jobs=[(10, 40), (20, 60), (80, 90)], plan_end=5)
        raw = {"passes": [{"pass": 1, "start_ms": 0, "end_ms": 100, "gc_ms": 0,
                           "plancache_entries": 0, "plancache_storage_bytes": 0}],
               "executions": [e], "cores": 4}
        layers = metrics.pass_layers(raw, raw["passes"][0], 4)
        self.assertEqual(layers["exec.job_span_ms"], 60)
        self.assertEqual(layers["exec.driver_gap_ms"], 40)


class OutcomeTest(unittest.TestCase):
    def test_matching_digests_are_not_wrong(self):
        runs = [ex("a", p, 0, 1, digest="x") for p in (1, 2)]
        self.assertEqual(metrics.count_outcomes(runs, {"a": "x"}), (2, 0, 0, []))

    def test_a_changed_digest_is_wrong(self):
        runs = [ex("a", 1, 0, 1, digest="x"), ex("a", 2, 0, 1, digest="y")]
        self.assertEqual(metrics.count_outcomes(runs, {"a": "x"}), (2, 0, 1, ["a"]))

    def test_a_query_without_expected_digest_is_wrong(self):
        self.assertEqual(metrics.count_outcomes([ex("b", 1, 0, 1)], {})[2], 1)

    def test_a_thrown_query_counts_as_failed_not_wrong(self):
        runs = [ex("a", 1, 0, 1, digest="x"),
                ex("b", 1, 1, 2, error="boom", build_end=None)]
        attempted, failed, wrong, _ = metrics.count_outcomes(runs, {"a": "x", "b": "z"})
        self.assertEqual((attempted, failed, wrong), (2, 1, 0))

    def test_failures_stay_in_the_ratio_but_not_in_the_latencies(self):
        runs = ([ex("a", p, 10 * p, 10 * p + 2, digest="x") for p in range(1, 41)] +
                [ex("b", 1, 0, 500, error="boom", build_end=None)])
        raw = {"setup_s": 3.0, "heap_retained_mb": 1.0, "executions": runs,
               "passes": [{"start_ms": 0, "end_ms": 1000}, {"start_ms": 0, "end_ms": 500}]}
        e2e, samples = metrics.end_to_end(raw, {"a": "x"})
        self.assertAlmostEqual(e2e["failed_ratio"], 1 / 41)
        self.assertEqual(e2e["wrong_results"], 0)
        self.assertAlmostEqual(e2e["query_p75_ms"], 2)
        self.assertEqual(samples["query_samples"], 40)


class SpanTest(unittest.TestCase):
    def test_phases_tile_the_query_and_jobs_attach_to_the_open_phase(self):
        e = ex("q", 1, 0, 30, build_end=10, plan_end=12,
               jobs=[(2, 8), (15, 25)], batches=[(3, 6)])
        raw = {"workload": "w", "seed": 1, "executions": [e]}
        self.assertEqual(metrics.uncovered_ms(raw), 0)
        parents = {s["id"]: s["parent"] for s in metrics.spans(raw)}
        self.assertEqual(parents["q0.j0"], "q0.registry")
        self.assertEqual(parents["q0.j1"], "q0.exec")
        self.assertEqual(parents["q0.b0"], "q0.registry")

    def test_a_failed_query_is_charged_to_the_phase_it_threw_in(self):
        e = ex("q", 1, 0, 7, error="boom", build_end=None)
        bounds = metrics.phase_bounds(e)
        self.assertEqual(bounds[0], ("registry", 0, 7))
        self.assertEqual(bounds[1][1], bounds[1][2])


if __name__ == "__main__":
    unittest.main()
