"""Tests of the benchmark's own generator and statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import gen
import stats


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_requests(self):
        for w in gen.CLIENTS:
            self.assertEqual(gen.requests_for(w, 7), gen.requests_for(w, 7), w)

    def test_different_seeds_differ(self):
        for w in gen.CLIENTS:
            self.assertNotEqual(gen.requests_for(w, 7)["requests"], gen.requests_for(w, 8)["requests"], w)

    def test_same_seed_same_tables(self):
        self.assertTrue(gen.events_table(3, 500).equals(gen.events_table(3, 500)))
        self.assertFalse(gen.events_table(3, 500).equals(gen.events_table(4, 500)))
        self.assertTrue(gen.documents_table(3, 200).equals(gen.documents_table(3, 200)))
        self.assertFalse(gen.documents_table(3, 200).equals(gen.documents_table(4, 200)))

    def test_seed_does_not_change_the_shape_mix(self):
        kinds = lambda s: [r["kind"] for r in gen.requests_for("dashboard", s)["requests"]]
        self.assertEqual(kinds(1), kinds(2))
        ops = lambda s: [o["op"] for o in gen.requests_for("store_churn", s)["requests"]]
        self.assertEqual(ops(1), ops(2))

    def test_dashboard_mix(self):
        reqs = gen.requests_for("dashboard", 1)["requests"]
        share = lambda k: sum(r["kind"] == k for r in reqs) / len(reqs)
        self.assertAlmostEqual(share("range"), 0.7)
        self.assertAlmostEqual(share("instant"), 0.2)
        self.assertAlmostEqual(share("meta"), 0.1)

    def test_churn_alternates_writes_and_reads(self):
        ops = gen.requests_for("store_churn", 1)["requests"]
        reads = [o["op"] in gen.CHURN_READS for o in ops]
        self.assertEqual(reads, [i % 2 == 1 for i in range(len(ops))])


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        for n in range(1, 3000):
            p = stats.tail_pct(n)
            if p is None:
                self.assertLess(n - stats.rank(n, min(stats.TAIL_CANDIDATES)), stats.MIN_BEYOND)
                continue
            self.assertGreaterEqual(n - stats.rank(n, p), stats.MIN_BEYOND, n)
            higher = [q for q in stats.TAIL_CANDIDATES if q > p]
            for q in higher:
                self.assertLess(n - stats.rank(n, q), stats.MIN_BEYOND, (n, q))

    def test_known_counts(self):
        self.assertIsNone(stats.tail_pct(19))
        self.assertEqual(stats.tail_pct(20), 50)
        self.assertEqual(stats.tail_pct(40), 75)
        self.assertEqual(stats.tail_pct(100), 90)
        self.assertEqual(stats.tail_pct(1000), 99)
        self.assertEqual(stats.tail_pct(10000), 99.9)

    def test_failures_count_as_missing_the_limit(self):
        ops = [{"ms": float(i), "ok": True} for i in range(1, 20)]
        ops.append({"ms": 1.0, "ok": False})
        p50, p, tail, n = stats.summary(ops)
        self.assertEqual((p, n), (50, 20))
        self.assertEqual(tail, 10.0)
        ops[0]["ok"] = False
        self.assertEqual(stats.summary(ops[:1])[0], math.inf)

    def test_service_rate(self):
        ops = [{"kind": "range", "end_s": 10.0 + 0.5 * i, "ok": True} for i in range(9)]
        self.assertAlmostEqual(stats.service_rate(ops), 2.0)
        ops[3]["ok"] = False
        self.assertAlmostEqual(stats.service_rate(ops), 2.0 * 8 / 9)

    def test_service_rate_ignores_one_stall(self):
        ends = [0.5 * i for i in range(9)]
        ends[5:] = [e + 4.0 for e in ends[5:]]
        ops = [{"kind": "range", "end_s": e, "ok": True} for e in ends]
        self.assertAlmostEqual(stats.service_rate(ops), 2.0)

    def test_service_rate_weights_kinds_by_mix(self):
        ops, t = [], 0.0
        for i in range(8):
            kind = "a" if i % 2 else "b"
            t += 1.0 if kind == "a" else 0.5
            ops.append({"kind": kind, "end_s": t, "ok": True})
        self.assertAlmostEqual(stats.service_rate(ops, {"a": 0.25, "b": 0.75}), 1 / 0.625)
        self.assertAlmostEqual(stats.service_rate(ops, {"a": 0.25, "c": 0.75}), 1.0)

    def test_churn_mix(self):
        mix = gen.churn_mix()
        self.assertAlmostEqual(sum(mix.values()), 1.0)
        ops = gen.store_churn_ops(1, 12 * len(gen.CHURN_WRITES) * len(gen.CHURN_READS))
        for kind, share in mix.items():
            self.assertAlmostEqual(sum(o["op"] == kind for o in ops) / len(ops), share, msg=kind)

if __name__ == "__main__":
    unittest.main()
