"""Tests of the benchmark's own arithmetic and checks.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        self.assertEqual(M.highest_percentile(1000), 99)
        self.assertEqual(M.highest_percentile(200), 95)
        self.assertEqual(M.highest_percentile(199), 90)
        self.assertEqual(M.highest_percentile(100), 90)
        self.assertEqual(M.highest_percentile(99), 75)
        self.assertEqual(M.highest_percentile(40), 75)
        self.assertEqual(M.highest_percentile(20), 50)
        self.assertIsNone(M.highest_percentile(19))
        for n in range(20, 500):
            p = M.highest_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(sum(1 for x in xs if x > M.percentile(xs, 90)), 10)
        self.assertEqual(M.percentile([3.0], 90), 3.0)
        self.assertEqual(M.percentile([5, 1, 4, 2, 3], 50), 3)


class FailedFrac(unittest.TestCase):
    def test_wrong_result_counts_as_failure(self):
        ops = [{"failure": None}, {"failure": "result differs from the checked first result"},
               {"failure": ""}, {"failure": "RuntimeException: boom"}]
        self.assertEqual(M.failed_frac(ops), 0.5)

    def test_no_operations_is_an_error(self):
        with self.assertRaises(ValueError):
            M.failed_frac([])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            (1, 0, 7, "op", 0, 100),
            (2, 1, 7, "construct", 10, 30),
            (3, 1, 7, "exec", 40, 90),
            (4, 3, 7, "plan", 45, 55),
        ]
        s = M.self_times(spans)
        self.assertEqual(s["op"], 100 - 20 - 50)
        self.assertEqual(s["construct"], 20)
        self.assertEqual(s["exec"], 50 - 10)
        self.assertEqual(s["plan"], 10)
        self.assertEqual(sum(s.values()), 100)

    def test_overlapping_and_overhanging_children(self):
        spans = [
            (1, 0, 1, "op", 100, 200),
            (2, 1, 1, "exec", 90, 150),     # starts before its parent
            (3, 1, 1, "exec", 140, 160),    # overlaps its sibling
        ]
        self.assertEqual(M.self_times(spans)["op"], 100 - 60)


class TraceOverhead(unittest.TestCase):
    def test_linear_warm_up_trend_cancels(self):
        walls = [10.0, 9.0, 8.0, 7.0, 6.0]
        passes = [(w, i % 2 == 1) for i, w in enumerate(walls)]
        self.assertAlmostEqual(M.trace_overhead(passes), 0.0)

    def test_traced_pass_compared_with_its_neighbours(self):
        passes = [(4.0, False), (5.5, True), (6.0, False), (9.9, True)]
        self.assertAlmostEqual(M.trace_overhead(passes), 0.1)


class ProductCheck(unittest.TestCase):
    expected = {"rows": 30, "total_cell_count": 4, "groups": [
        {"modality": "cell_by_bin", "dataset": "d1", "rows": 20, "value_sum": 55},
        {"modality": "cell_by_gene", "dataset": "d1", "rows": 10, "value_sum": 21}]}

    def observed(self):
        return {"rows": 30, "total_cell_count": 4, "groups": [
            {"modality": "cell_by_bin", "dataset": "d1", "rows": 20, "value_sum": 55.0},
            {"modality": "cell_by_gene", "dataset": "d1", "rows": 10, "value_sum": 21.0}]}

    def test_matching_product_passes(self):
        self.assertEqual(M.check_product(self.expected, self.observed()), [])

    def test_perturbed_products_are_rejected(self):
        def perturbed(f):
            o = self.observed()
            f(o)
            return M.check_product(self.expected, o)
        self.assertTrue(perturbed(lambda o: o.update(rows=29)))
        self.assertTrue(perturbed(lambda o: o.update(total_cell_count=5)))
        self.assertTrue(perturbed(lambda o: o["groups"][1].update(value_sum=22.0)))
        self.assertTrue(perturbed(lambda o: o["groups"][0].update(rows=19)))
        self.assertTrue(perturbed(lambda o: o["groups"].pop()))
        self.assertTrue(perturbed(lambda o: o["groups"].append(
            {"modality": "cell_by_gene", "dataset": "d2", "rows": 0, "value_sum": 0})))


class Digest(unittest.TestCase):
    def test_row_order_and_int_width_do_not_matter_but_values_do(self):
        import duckdb
        con = duckdb.connect()
        a = M.relation_digest(con.sql("SELECT * FROM (VALUES (1::INT, 0.5), (2::INT, 1.5)) t(k, v)"))
        b = M.relation_digest(con.sql("SELECT * FROM (VALUES (2::BIGINT, 1.5), (1::BIGINT, 0.5)) t(k, v)"))
        c = M.relation_digest(con.sql("SELECT * FROM (VALUES (1::INT, 0.5), (2::INT, 1.25)) t(k, v)"))
        d = M.relation_digest(con.sql("SELECT v, k FROM (VALUES (1::INT, 0.5), (2::INT, 1.5)) t(k, v)"))
        self.assertEqual(a, b)
        self.assertEqual(a, d)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
