"""Tests of the benchmark's own arithmetic and input generators.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 75), 75)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(40, 75), 10)
        self.assertEqual(stats.beyond(39, 75), 9)
        self.assertEqual(stats.beyond(1000, 99), 10)
        self.assertEqual(stats.beyond(999, 99), 9)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class AccountingTest(unittest.TestCase):
    def test_thrown_query_is_failed_and_never_looks_fast(self):
        ok = [{"ok": True, "latency": 100.0}] * 9
        thrown = {"ok": False, "latency": 1.0}  # failed fast
        a = stats.account(ok + [thrown])
        self.assertEqual((a["attempted"], a["failed"]), (10, 1))
        # the fast failure may not pull latency down: it counts as missing
        # every limit
        self.assertTrue(math.isinf(max(a["latencies"])))
        self.assertEqual(stats.percentile(a["latencies"], 50), 100.0)
        self.assertTrue(math.isinf(stats.percentile(a["latencies"], 95)))
        self.assertGreaterEqual(stats.percentile(a["latencies"], 50),
                                stats.percentile(stats.account(ok)["latencies"], 50))

    def test_interaction_fails_with_any_request(self):
        reqs = [{"interaction": 0, "due": 10, "end": 30, "ok": True},
                {"interaction": 0, "due": 10, "end": 70, "ok": True},
                {"interaction": 1, "due": 50, "end": 60, "ok": True},
                {"interaction": 1, "due": 50, "end": 55, "ok": False}]
        self.assertEqual(stats.interactions(reqs),
                         [{"ok": True, "latency": 60}, {"ok": False, "latency": 10}])
        a = stats.account(stats.interactions(reqs))
        self.assertEqual((a["attempted"], a["failed"]), (2, 1))
        self.assertTrue(math.isinf(a["latencies"][1]))

    def test_failed_latency_renders_as_stand_in(self):
        self.assertEqual(stats.finite(stats.FAILED, 12000.0), 12000.0)
        self.assertEqual(stats.finite(3.5, 12000.0), 3.5)


def span(id_, parent, name, start, end, trace="t"):
    return {"trace": trace, "id": id_, "parent": parent, "name": name,
            "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_union_and_shares(self):
        ivs = [(10, 50), (30, 70)]
        self.assertEqual(stats.union_length(ivs), 60)
        self.assertEqual(stats.shares(ivs), [30.0, 30.0])
        self.assertEqual(stats.union_length([(0, 10), (20, 30), (5, 8)]), 20)

    def test_overlapping_children(self):
        spans = [span(1, 0, "query", 0, 100),
                 span(2, 1, "exec", 10, 50),
                 span(3, 1, "exec", 30, 70),
                 span(4, 2, "stage", 20, 40)]
        selfs, wall, lost = stats.self_times(spans)
        self.assertEqual((wall, lost), (100, 0))
        self.assertAlmostEqual(selfs["query"], 40.0)
        # exec #2 owns 30 of the 40 covered units: its subtree is scaled
        # by 3/4; exec #3 likewise
        self.assertAlmostEqual(selfs["stage"], 15.0)
        self.assertAlmostEqual(selfs["exec"], 15.0 + 30.0)
        self.assertAlmostEqual(sum(selfs.values()), wall)

    def test_floating_spans_nest_by_containment_and_clamp(self):
        spans = [span(1, 0, "query", 0, 100),
                 span(2, 1, "plan.build", 0, 20),
                 span(3, 1, "exec", 20, 100),
                 span(4, -1, "plan.analysis", 2, 12),
                 span(5, -1, "stage", 30, 60),
                 span(6, -1, "stage", 50, 110),    # overruns exec: clamped
                 span(7, -1, "stage", 200, 300)]   # outside the trace: dropped
        selfs, wall, lost = stats.self_times(spans, slack=2)
        self.assertAlmostEqual(selfs["plan.analysis"], 10.0)
        self.assertAlmostEqual(selfs["plan.build"], 10.0)
        self.assertAlmostEqual(selfs["stage"], 70.0)
        self.assertAlmostEqual(selfs["exec"], 10.0)
        self.assertAlmostEqual(selfs["query"], 0.0)
        self.assertAlmostEqual(sum(selfs.values()), wall)
        # 8 of the 10 units stage #6 overruns by (beyond the slack of 2)
        # and all 100 of the dropped stage are unaccounted
        self.assertEqual(lost, 108)

    def test_unaccounted_time_can_fail_the_reconciliation(self):
        query = [span(1, 0, "query", 0, 100), span(2, 1, "exec", 10, 100)]
        inside = [span(3, -1, "stage", 9, 101)]     # within the clock slack
        late = [span(3, -1, "stage", 60, 130)]      # a stage that outlived its query
        self.assertEqual(stats.self_times(query + inside, slack=2)[2], 0)
        selfs, wall, lost = stats.self_times(query + late, slack=2)
        self.assertAlmostEqual(sum(selfs.values()), wall)  # holds regardless
        self.assertEqual(lost, 28)
        self.assertGreater(lost, 0.01 * wall)

    def test_one_root(self):
        with self.assertRaises(ValueError):
            stats.self_times([span(1, 0, "a", 0, 1), span(2, 0, "b", 0, 1)])


class SeedTest(unittest.TestCase):
    def test_market_is_seeded(self):
        a, ea = datagen.market(7)
        b, eb = datagen.market(7)
        c, _ = datagen.market(8)
        self.assertEqual(a, b)
        self.assertEqual(ea, eb)
        self.assertNotEqual(a, c)
        days = {r[0] for r in a}
        self.assertEqual(len(a), 3 * len(days))
        hist = [d for d in days if d < datagen.LIVE_START.isoformat()]
        self.assertGreater(3 * len(hist), 19000)

    def test_interactions_are_seeded(self):
        last = dt.date(2025, 1, 3)
        a = datagen.interactions(5, 10, 12, last)
        self.assertEqual(a, datagen.interactions(5, 10, 12, last))
        self.assertNotEqual(a, datagen.interactions(6, 10, 12, last))
        self.assertEqual(len(a), 120)
        self.assertEqual([t for t, _ in a[:3]], [0.0, 100.0, 200.0])

    def test_interactions_follow_the_page_sequence(self):
        a = datagen.interactions(5, 10, 60, dt.date(2025, 1, 3))
        for _, paths in a:
            eps = [p.split("?")[0] for p in paths]
            self.assertIn(eps, (["/indexes", "/bounds", "/chart"],
                                ["/indexes", "/bounds", "/series"], ["/latest"]))
        for b in range(0, len(a), 4):
            self.assertEqual(sum(len(p) == 3 for _, p in a[b:b + 4]), datagen.CHARTS_PER_4)

    def test_tables_are_seeded(self):
        a = datagen.tables(3, 0.001)
        b = datagen.tables(3, 0.001)
        c = datagen.tables(4, 0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_query_orders_are_seeded_permutations(self):
        names = ["q_a", "q_b", "q_c", "q_d"]
        a = datagen.query_orders(1, names, 5)
        self.assertEqual(a, datagen.query_orders(1, names, 5))
        self.assertTrue(all(sorted(p) == names for p in a))


if __name__ == "__main__":
    unittest.main()
