"""Tests for the benchmark's statistics and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import run


def span(i, parent, name, start, end, **attrs):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
            "attrs": attrs, "counts": {}}


class MedianTest(unittest.TestCase):
    def test_odd_and_even_counts(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(run.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_one_slow_sample_does_not_move_it(self):
        self.assertEqual(run.median([1.0, 1.0, 1.0, 1.0, 100.0]), 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children_are_subtracted(self):
        parent = span(1, 0, "silver", 0.0, 10.0)
        kids = [span(2, 1, "a", 1.0, 3.0), span(3, 1, "b", 5.0, 6.0)]
        self.assertAlmostEqual(run.self_time(parent, kids), 7.0)

    def test_overlapping_children_count_once(self):
        parent = span(1, 0, "p", 0.0, 10.0)
        kids = [span(2, 1, "a", 1.0, 4.0), span(3, 1, "b", 2.0, 5.0), span(4, 1, "c", 4.5, 4.8)]
        self.assertAlmostEqual(run.self_time(parent, kids), 6.0)

    def test_children_are_clipped_to_the_span(self):
        parent = span(1, 0, "p", 2.0, 6.0)
        kids = [span(2, 1, "a", 0.0, 3.0), span(3, 1, "b", 5.0, 9.0)]
        self.assertAlmostEqual(run.self_time(parent, kids), 2.0)

    def test_no_children_is_the_whole_span(self):
        self.assertAlmostEqual(run.self_time(span(1, 0, "p", 1.0, 2.5), []), 1.5)


class FailureAccountingTest(unittest.TestCase):
    def reps(self):
        return [
            {"key": "good", "pass": "first", "ok": True, "digest": "2:7", "wall_s": 1.0,
             "cpu_s": 1.0, "peak_heap_mb": 10.0},
            {"key": "good", "pass": "warm", "ok": True, "digest": "2:7", "wall_s": 0.5,
             "cpu_s": 0.5, "peak_heap_mb": 10.0},
            # a hand-made failing op: it threw, so the runner reports no timings
            {"key": "boom", "pass": "first", "ok": False, "error": "java.lang.RuntimeException"},
            # returned, but with the wrong output
            {"key": "wrong", "pass": "warm", "ok": True, "digest": "2:8", "wall_s": 0.1,
             "cpu_s": 0.1, "peak_heap_mb": 10.0},
        ]

    def test_fails_count_and_stay_out_of_latency(self):
        reps = run.check_ops(self.reps(), {"good": "2:7", "boom": "1:1", "wrong": "2:7"}, {})
        attempted, failed, passed = run.accounting(reps)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual([o["key"] for o in passed], ["good", "good"])
        m = run.end_to_end(9.0, passed)
        self.assertEqual((m["first_s"], m["warm_s"], m["cpu_s"]), (1.0, 0.5, 1.5))
        self.assertTrue(all(v > 0 for v in m.values()))

    def test_known_wrong_key_only_has_to_return(self):
        reps = run.check_ops(self.reps(), {"good": "2:7"}, {"wrong": "oracle disagrees"})
        self.assertTrue(reps[3]["check"])
        self.assertFalse(reps[2]["check"])

    def test_key_without_golden_digest_fails(self):
        reps = run.check_ops(self.reps()[:1], {}, {})
        self.assertFalse(reps[0]["check"])


class RefreshCheckTest(unittest.TestCase):
    written = {"olist_orders": 5, "olist_customers": 5}

    def refresh(self, pass_, **over):
        p = {"pass": pass_, "ok": True, "wall_s": 1.0, "cpu_s": 1.0, "peak_heap_mb": 1.0,
             "bronze_rows": dict(self.written), "silver_rows": {"orders": 5},
             "gold_rows": {"fact_orders": 5}, "qa": "QaReport(0,0)",
             "audit_latest": {"SUCCESS": 50}}
        p.update(over)
        return p

    def test_identical_refreshes_pass(self):
        passes = run.check_refresh([self.refresh("first"), self.refresh("warm")], self.written)
        self.assertEqual(run.accounting(passes)[:2], (2, 0))

    def test_each_check_can_fail_a_refresh(self):
        bad = [self.refresh("warm", bronze_rows={"olist_orders": 4, "olist_customers": 5}),
               self.refresh("warm", qa="QaReport(1,0)"),
               self.refresh("warm", gold_rows={"fact_orders": 6}),
               self.refresh("warm", audit_latest={"SUCCESS": 49, "FAILED": 1}),
               self.refresh("warm", ok=False)]
        for b in bad:
            passes = run.check_refresh([self.refresh("first"), b], self.written)
            self.assertEqual(run.accounting(passes)[:2], (2, 1), b)

    def test_refresh_metrics_take_the_median_rerun(self):
        passes = [self.refresh("first", wall_s=30.0), self.refresh("warm", wall_s=20.0),
                  self.refresh("warm", wall_s=18.0), self.refresh("warm", wall_s=50.0)]
        m = run.end_to_end(9.0, passes)
        self.assertEqual((m["first_s"], m["warm_s"]), (30.0, 20.0))


class SampleTest(unittest.TestCase):
    # key i has steady time i and first-rep time (i * 37) % 100
    pool = [(f"k{i:03d}", float(i), float(i * 37 % 100)) for i in range(100)]

    def test_same_seed_same_sample(self):
        self.assertEqual(run.stratified_sample(self.pool, 10, 7),
                         run.stratified_sample(self.pool, 10, 7))

    def test_one_key_per_steady_slice_and_per_first_band(self):
        for seed in range(20):
            keys = run.stratified_sample(self.pool, 10, seed)
            self.assertEqual(sorted(int(k[1:]) // 10 for k in keys), list(range(10)))
            bands = []
            for k in keys:
                i = int(k[1:])
                sl = sorted(self.pool[i // 10 * 10:i // 10 * 10 + 10], key=lambda row: row[2])
                bands.append([row[0] for row in sl].index(k))
            self.assertEqual(sorted(bands), list(range(10)))

    def test_seeds_differ(self):
        self.assertNotEqual(run.stratified_sample(self.pool, 10, 1),
                            run.stratified_sample(self.pool, 10, 2))


if __name__ == "__main__":
    unittest.main()
