"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb    # noqa: E402

import gen       # noqa: E402
import metrics   # noqa: E402
import oracle    # noqa: E402
import run       # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(99), 75.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)
        self.assertEqual(metrics.tail_percentile(20), 50.0)

    def test_too_few_samples_support_no_percentile(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertIsNone(metrics.tail_percentile(0))

    def test_interpolated_percentile(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(metrics.percentile(range(11), 90), 9.0)
        self.assertAlmostEqual(metrics.percentile([0, 10], 25), 2.5)


def span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "name": f"s{sid}", "start_us": start, "end_us": end,
            "attrs": {}}


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 30), span(2, 0, 20, 50),   # overlapping children
                 span(3, 0, 90, 120),                      # clipped to the parent
                 span(4, 1, 12, 18)]                       # grandchild: not subtracted from 0
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)
        self.assertEqual(st[1], 20 - 6)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 6)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(7, -1, 5, 9)]), {7: 4})

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (3, 3)]), 20)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_is_span_time_without_jobs(self):
        s = span(0, -1, 0, 100)
        jobs = [{"start_us": 10, "end_us": 40}, {"start_us": 30, "end_us": 60}]
        self.assertAlmostEqual(metrics.driver_gap_s(s, jobs), 50 / 1e6)


def star_checksums(d):
    con = oracle.connect(d, ["customer", "supplier", "part", "orders", "lineitem"])
    out = {}
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        cols = [c[0] for c in con.execute(f"SELECT * FROM {t} LIMIT 0").description]
        out[t] = oracle.checksum(con, f"SELECT * FROM {t}", cols)
    con.close()
    return out


def doc_checksum(d):
    con = duckdb.connect()
    r = oracle.checksum(con, f"SELECT * FROM read_parquet('{d}/**/*.parquet')",
                        ["doc_id", "text", "lang", "source", "n_chars"])
    con.close()
    return r


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_star_same_seed_same_rows_other_seed_other_rows(self):
        truths = {k: gen.star(self.path(k), seed, 600, nights=2)
                  for k, seed in (("a", 5), ("b", 5), ("c", 6))}
        a, b, c = (star_checksums(self.path(k)) for k in "abc")
        self.assertEqual(a, b)
        self.assertEqual(truths["a"], truths["b"])
        for t in a:
            self.assertNotEqual(a[t], c[t], t)

    def test_docs_same_seed_same_rows_other_seed_other_rows(self):
        for k, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.docs(self.path(k), seed, 300, 100, 2)
        a, b, c = (doc_checksum(self.path(k)) for k in "abc")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_dirty_rows_and_nights(self):
        truth = gen.star(self.path("s"), 3, 1000, nights=3)
        orders = truth["tables"]["orders"]
        self.assertEqual(orders["null_rows"], 10)
        self.assertEqual(orders["dup_rows"], 10)
        self.assertEqual(len(truth["nights"]), 3)
        con = oracle.connect(self.path("s"), ["orders"])
        nulls, = con.execute("SELECT COUNT(*) - COUNT(o_custkey) FROM orders").fetchone()
        dups, = con.execute("SELECT COUNT(*) - COUNT(DISTINCT (o_orderkey, o_custkey, o_totalprice))"
                            " FROM orders").fetchone()
        latest, = con.execute("SELECT max(o_orderdate) FROM orders").fetchone()
        night, = con.execute(
            f"SELECT min(o_orderdate) FROM read_parquet('{self.path('s')}/nights/0001/orders.parquet/*')"
        ).fetchone()
        self.assertEqual((nulls, dups), (10, 10))
        self.assertGreater(night, latest)

    def test_skewed_keys(self):
        gen.star(self.path("z"), 4, 3000)
        con = oracle.connect(self.path("z"), ["lineitem"])
        for key in ("l_partkey", "l_suppkey"):
            top, mean = con.execute(
                f"SELECT max(c), avg(c) FROM (SELECT COUNT(*) c FROM lineitem "
                f"WHERE {key} IS NOT NULL GROUP BY {key})").fetchone()
            self.assertGreater(top, 5 * mean, key)

    def test_documents_hold_their_stated_properties(self):
        truth = gen.docs(self.path("d"), 7, 2000, 500, 1)
        con = duckdb.connect()
        rows = dict(con.execute(
            f"SELECT doc_id, text FROM read_parquet('{self.path('d')}/**/*.parquet')").fetchall())
        toks = {i: t.split() for i, t in rows.items()}
        self.assertTrue(truth["exact_pairs"] and truth["near_pairs"] and truth["short"])
        for o, c in truth["exact_pairs"]:
            self.assertEqual(rows[o], rows[c])
        for o, c in truth["near_pairs"]:
            self.assertNotEqual(rows[o], rows[c])
            self.assertGreaterEqual(gen.jaccard(toks[o], toks[c]), gen.NEAR_MIN_JACCARD)
        self.assertTrue(all(len(toks[i]) < 15 for i in truth["short"]))
        words = {w.rstrip(".") for t in toks.values() for w in t}
        self.assertTrue(set(gen.STOPWORDS) <= words)


class CleanKept(unittest.TestCase):
    def test_expected_share_excludes_dirty_rows(self):
        truth = {"tables": {t: {"rows": 100, "null_rows": 1, "dup_rows": 1}
                            for t in ("customer", "supplier", "part", "orders")},
                 "nights": [{"orders": {"rows": 10, "null_rows": 1, "dup_rows": 0}}]}
        rows = {"dim_customer": 98, "dim_supplier": 98, "dim_part": 98, "dim_order": 107}
        got, want = metrics.clean_kept(rows, truth, 1)
        self.assertAlmostEqual(want, 401 / 410)
        self.assertAlmostEqual(got, want)


class DashboardStream(unittest.TestCase):
    def test_every_refresh_holds_every_template_once(self):
        truth = {"sizes": {"supplier": 200}}
        refreshes = run.dashboard_stream(3, truth, 8)
        self.assertEqual(refreshes, run.dashboard_stream(3, truth, 8))
        self.assertGreaterEqual(len(refreshes), 8 * run.MAX_REFRESHES_PER_S)
        for r in refreshes:
            self.assertEqual(sorted(q.split(":")[0] for q in r), sorted(run.TEMPLATES))


class RowComparison(unittest.TestCase):
    def test_multiset_with_float_tolerance(self):
        self.assertTrue(oracle.same_rows([[1, 2.0], [None, "x"]], [[None, "x"], [1, 2.0 + 1e-12]]))
        self.assertFalse(oracle.same_rows([[1, 2.0]], [[1, 2.1]]))
        self.assertFalse(oracle.same_rows([[1], [1]], [[1]]))


if __name__ == "__main__":
    unittest.main()
